"""Sources and sinks (SURVEY.md §2.1); the session is configured by
:func:`engine.core.configure`, which the registry runs before every key.

All loaders go through :func:`load` so the events ns-timestamp fix
(SURVEY.md §7.3 item 2) is applied exactly once, in one place.

100 TB notes: every reader here is a plain parquet scan — Catalyst pushes
predicates/projections into the scan (verified by `scan_predicate_pushdown`
/ `scan_project_prune` explain checks in tests).  At cluster scale the same
code reads a partitioned table directory; nothing below materializes data
on the driver.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.core import (
    fingerprint,
    pin,
    pin_int,
    query,
    scoped_sql_conf,
    scratch,
    scratch_path,
    session_memo,
    staged_build_once,
)

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one corpus table; normalizes events.ts to µs TimestampType.

    The driver has shipped events.ts as BOTH parquet timestamp[ns]
    (rounds 1-3: reads as bigint under nanosAsLong) and timestamp[us]
    with isAdjustedToUTC=false (round 4: reads as TIMESTAMP_NTZ).  Every
    downstream operator assumes session-UTC TimestampType (unix_micros
    rejects NTZ), so both encodings fold to the same LTZ wall-clock here
    — the session timezone is pinned UTC by core.configure, which makes
    the NTZ→LTZ cast value-preserving and DuckDB-identical.

    Each table is resolved once per session (``core.session_memo``,
    keyed on the table file's fingerprint, nothing persisted): a repeat
    call returns the same frame and pays no file listing and no
    schema-inference job — at 100 TB a re-list of the table directory
    and a footer probe per query.  Two loads of one table are therefore
    ONE frame: a self-join must alias both sides (``a.alias("x")``).
    """
    path = os.path.join(sf_dir, f"{table}.parquet")

    def build():
        df = spark.read.parquet(path)
        if table == "events":
            ts_type = dict(df.dtypes).get("ts")
            if ts_type == "bigint":
                # int64 epoch-nanos → integer µs division (exact; no
                # double round-trip)
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            elif ts_type == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df, []

    # A frame is bound to the session that read it, and session_memo
    # keys on the application, which spark.newSession() shares: the
    # session is part of the version, so a frame of another session is
    # re-read, never handed out.
    return session_memo(
        spark, f"load:{table}", sf_dir, build, version=(fingerprint(path), spark)
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Temp views named exactly like the driver's DuckDB oracle views.

    Registered once per session and corpus state: ONE
    ``core.session_memo`` entry, versioned on the sf_dir, its corpus
    fingerprint and the session (temp views are per session), so a
    switch of scale factor, a regenerated corpus or another session
    re-registers.  The entry is not keyed per sf_dir: sf A → B → A would
    then hit A's stale entry while the views still name B's tables.
    """

    def build():
        for t in TABLES:
            load(spark, sf_dir, t).createOrReplaceTempView(t)
        return None, []

    session_memo(
        spark, "views", "", build, version=(sf_dir, fingerprint(sf_dir), spark)
    )


# ---------------------------------------------------------------------------
# §2.1 scan / source / sink keys
# ---------------------------------------------------------------------------


# Verified-output sampling: several keys' full results grow linearly with
# sf, and the driver canonicalizes+hashes EVERY row of both engines at
# sf0.01 — the full-result keys dominated its per-round verify budget
# (r2's run truncated at key #50; VERDICT r2 next step #4).  A modulo
# residue filter keeps the SCAN/SHUFFLE work intact (modulo never reaches
# parquet row-group pruning, so the operator under test still processes
# the whole input at bench sf) while cutting the hashed output ~12×,
# sf-proportionally.  The mirrored predicate runs on both engines.


@query(
    "scan_parquet",
    oracle="SELECT * FROM lineitem WHERE l_orderkey % 12 = 0",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Full-width scan: ReadSchema carries every column; the residue
    # filter only bounds the verified output (see note above).
    return load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 12 == 0)


@query(
    "scan_project_prune",
    oracle="SELECT l_orderkey, l_quantity, l_shipdate FROM lineitem WHERE l_orderkey % 12 = 0",
)
def scan_project_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Column pruning: ReadSchema in explain() must list exactly these 3 cols.
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 12 == 0)
        .select("l_orderkey", "l_quantity", "l_shipdate")
    )


@query(
    "scan_predicate_pushdown",
    oracle="""
    SELECT l_orderkey, l_shipdate, l_quantity
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_orderkey % 4 = 0
    """,
)
def scan_predicate_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Filter on the raw column (no cast) so it reaches PushedFilters; the
    # residue term is post-scan and doesn't displace the pushed range.
    return (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
            & (F.col("l_orderkey") % 4 == 0)
        )
        .select("l_orderkey", "l_shipdate", "l_quantity")
    )


@query(
    "source_range_synthetic",
    oracle="""
    SELECT CAST(range AS BIGINT) AS id,
           CAST(range * range AS BIGINT) AS sq,
           CAST(range % 7 AS BIGINT) AS bucket
    FROM range(10000)
    """,
)
def source_range_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.range(10000).select(
        F.col("id"),
        (F.col("id") * F.col("id")).alias("sq"),
        (F.col("id") % 7).alias("bucket"),
    )


def _write_one_parquet(df: DataFrame, path: str) -> None:
    """Write ``df`` as the single parquet file ``path`` — for staged
    inputs whose file names a key reads back (``_metadata``, globs, a
    hand-written log)."""
    tmp = f"{path}._tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    os.replace(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], path)
    shutil.rmtree(tmp)


@query(
    "source_csv_roundtrip",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           FLOOR((SUM(l_quantity)) * 100 + 0.5) / 100 AS sum_qty
    FROM lineitem
    WHERE l_orderkey % 10 = 0
    GROUP BY l_returnflag, l_linestatus
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a lineitem sample to CSV, read it back with explicit schema,
    aggregate.  Oracle reads the original parquet — equality proves the
    CSV round-trip is lossless for the projected columns."""
    sample = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 10 == 0)
        .select("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity")
    )
    path = scratch("csv_roundtrip")
    sample.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.csv(
        path,
        header=True,
        schema="l_orderkey BIGINT, l_returnflag STRING, l_linestatus STRING, l_quantity DOUBLE",
    )
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        pin(F.sum("l_quantity"), 100).alias("sum_qty"),
    )


@query(
    "source_schema_evolution",
    oracle="""
    WITH unioned AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
               NULL AS o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT),
               o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 5
    )
    SELECT o_orderstatus,
           COUNT(*) AS n,
           COUNT(o_orderpriority) AS n_with_priority,
           CAST(SUM(price_cents) AS BIGINT) AS sum_price_cents
    FROM unioned
    GROUP BY o_orderstatus
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read (round 3): two parquet batches written
    with DIFFERENT schemas (a later batch adds o_orderpriority), read
    back as one dataset with ``mergeSchema`` — the old batch's missing
    column surfaces as NULLs.  This is the daily reality of a 100 TB
    ingest directory: producers add columns; consumers must keep reading
    the union without rewriting history.  Footer-merge cost scales with
    file count, so production pins the merged schema in a catalog —
    noted here, exercised via the on-read path."""
    o = load(spark, sf_dir, "orders")
    price_cents = pin_int(F.col("o_totalprice"), 100)
    path = scratch("schema_evolution")
    # batch 1: original schema (no priority column).  coalesce(4): the
    # sf0.01 batch is ~1.5k rows; 32 shuffle-partition-sized files would
    # mean 64 footers for mergeSchema to union — file count, not bytes,
    # is the merge cost (as the docstring notes for production).
    o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", "o_orderstatus", price_cents.alias("price_cents")
    ).coalesce(4).write.mode("overwrite").parquet(path)
    # batch 2: evolved schema (+ o_orderpriority), appended
    o.filter(F.col("o_orderkey") % 10 == 5).select(
        "o_orderkey", "o_orderstatus", price_cents.alias("price_cents"),
        "o_orderpriority",
    ).coalesce(4).write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.count("o_orderpriority").alias("n_with_priority"),
        F.sum("price_cents").alias("sum_price_cents"),
    )


@query(
    "source_json_lines",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents,
           CAST(SUM(CAST(FLOOR(epoch_us(ts) / 1000000.0) AS BIGINT)) AS BIGINT) AS sum_epoch_s
    FROM events
    WHERE event_id % 5 = 0
    GROUP BY event_type
    """,
)
def source_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events sample → JSONL → read back with explicit schema → aggregate.

    Floats travel as integer cents and timestamps as epoch seconds: a
    double SUM is summation-order-dependent (round-1 hash_match=false),
    an integer SUM is exact on both engines.
    """
    sample = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 5 == 0)
        .select(
            "event_id",
            "event_type",
            pin_int(F.col("value"), 100).alias("value_cents"),
            F.unix_timestamp("ts").alias("epoch_s"),
        )
    )
    path = scratch("json_lines")
    sample.write.mode("overwrite").json(path)
    back = spark.read.json(
        path,
        schema="event_id BIGINT, event_type STRING, value_cents BIGINT, epoch_s BIGINT",
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("value_cents").alias("sum_value_cents"),
        F.sum("epoch_s").alias("sum_epoch_s"),
    )


@query(
    "sink_parquet_partitioned",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n, FLOOR((SUM(o_totalprice)) * 100 + 0.5) / 100 AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders partitioned by o_orderstatus, read back, count per
    partition — exercises dynamic partition discovery + pruning."""
    orders = load(spark, sf_dir, "orders")
    path = scratch("orders_by_status")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        pin(F.sum("o_totalprice"), 100).alias("sum_price"),
    )


@query(
    "source_orc_roundtrip",
    oracle="""
    SELECT l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_price_cents
    FROM lineitem
    WHERE l_orderkey % 7 = 0
    GROUP BY l_linestatus
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a lineitem sample to ORC, read it back, aggregate.  The
    oracle reads the original parquet — equality proves the ORC
    round-trip is lossless (Spark's second first-class columnar format;
    same pushdown/pruning machinery as parquet)."""
    sample = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 7 == 0)
        .select("l_orderkey", "l_linestatus", "l_extendedprice")
    )
    path = scratch("orc_roundtrip")
    sample.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(pin_int(F.col("l_extendedprice"), 100)).alias("sum_price_cents"),
    )


_BUCKETS = 8


@query(
    "sink_bucketed_join",
    oracle="""
    SELECT o.o_custkey,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS spend_cents,
           MAX(c.c_mktsegment) AS segment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_custkey
    """,
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join: both sides written with
    ``bucketBy(8, custkey)`` + ``sortBy``, then joined — Spark reads the
    bucket layout from the catalog and plans a SortMergeJoin with ZERO
    exchanges (asserted in tests/test_plans.py).

    This is THE pre-shuffle pattern for 100 TB fact⋈fact joins: pay the
    shuffle once at write time, join shuffle-free forever after.  The
    oracle is the plain join on the original tables (bucketing never
    changes results).
    """
    path = scratch("bucketed")
    for table, key_col in (("orders", "o_custkey"), ("customer", "c_custkey")):
        tbl_name = f"eng_bucketed_{table}"
        spark.sql(f"DROP TABLE IF EXISTS {tbl_name}")
        (
            load(spark, sf_dir, table)
            .write.mode("overwrite")
            .option("path", os.path.join(path, table))
            .bucketBy(_BUCKETS, key_col)
            .sortBy(key_col)
            .saveAsTable(tbl_name)
        )
    o = spark.table("eng_bucketed_orders")
    c = spark.table("eng_bucketed_customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(pin_int(F.col("o_totalprice"), 100)).alias("spend_cents"),
            F.max("c_mktsegment").alias("segment"),
        )
    )


@query(
    "sink_merge_upsert",
    oracle="""
    WITH upd AS (
        SELECT o_orderkey AS k, o_totalprice + 100.0 AS p, 'U' AS st
        FROM orders WHERE o_orderkey % 50 = 0
    ),
    ins AS (
        SELECT o_orderkey + 1000000 AS k, o_totalprice * 0.5 AS p, 'I' AS st
        FROM orders WHERE o_orderkey % 300 = 0
    ),
    updates AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
    matched AS (
        SELECT b.o_orderkey,
               CASE WHEN u.k IS NOT NULL THEN 'update' ELSE 'keep' END
                   AS action,
               CAST(FLOOR(COALESCE(u.p, b.o_totalprice) * 100 + 0.5)
                    AS BIGINT) AS price_cents,
               COALESCE(u.st, b.o_orderstatus) AS status
        FROM orders b LEFT JOIN updates u ON b.o_orderkey = u.k
    ),
    inserts AS (
        SELECT u.k AS o_orderkey, 'insert' AS action,
               CAST(FLOOR(u.p * 100 + 0.5) AS BIGINT) AS price_cents,
               u.st AS status
        FROM updates u LEFT JOIN orders b ON u.k = b.o_orderkey
        WHERE b.o_orderkey IS NULL
    )
    SELECT * FROM (SELECT * FROM matched UNION ALL SELECT * FROM inserts)
    WHERE o_orderkey % 3 = 0
    """,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO / CDC upsert semantics without a table format: apply a
    deterministic change batch (updates for orderkey % 50 = 0, inserts
    at orderkey + 1e6 for orderkey % 300 = 0) onto the orders snapshot,
    emitting the merged state with per-row fate (keep/update/insert).

    Scale design — the two MERGE paths cost differently and are planned
    differently: MATCHED rows ride a broadcast left join (the CDC batch
    is small by definition; the base fact NEVER shuffles), while
    NOT-MATCHED detection anti-probes the base on a key-only projection
    — column pruning makes the anti shuffle 8 bytes/row, not the row.
    This is what a Delta/Iceberg MERGE plans under the hood, minus the
    file-level pruning a table format adds (there, the probe narrows to
    files whose key ranges overlap the batch).  Output bounded by the
    mirrored % 3 residue (driver-budget rule).
    """
    base = load(spark, sf_dir, "orders")
    upd = base.filter(F.col("o_orderkey") % 50 == 0).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice") + 100.0).alias("p"),
        F.lit("U").alias("st"),
    )
    ins = base.filter(F.col("o_orderkey") % 300 == 0).select(
        (F.col("o_orderkey") + 1000000).alias("k"),
        (F.col("o_totalprice") * 0.5).alias("p"),
        F.lit("I").alias("st"),
    )
    updates = upd.unionByName(ins)
    matched = base.join(
        F.broadcast(updates), base.o_orderkey == updates.k, "left"
    ).select(
        "o_orderkey",
        F.when(F.col("k").isNotNull(), "update").otherwise("keep").alias("action"),
        pin_int(F.coalesce("p", "o_totalprice"), 100).alias("price_cents"),
        F.coalesce("st", "o_orderstatus").alias("status"),
    )
    inserts = updates.join(
        base.select("o_orderkey"), updates.k == F.col("o_orderkey"), "left_anti"
    ).select(
        F.col("k").alias("o_orderkey"),
        F.lit("insert").alias("action"),
        pin_int(F.col("p"), 100).alias("price_cents"),
        F.col("st").alias("status"),
    )
    return matched.unionByName(inserts).filter(F.col("o_orderkey") % 3 == 0)


@query(
    "source_text_lines",
    oracle="""
    WITH lines AS (
        SELECT replace(text, chr(10), ' ') AS value
        FROM documents WHERE doc_id % 5 = 0 AND text IS NOT NULL
    )
    SELECT length(value) AS n_chars,
           len(list_filter(string_split(lower(value), ' '), t -> t <> ''))
               AS n_tokens,
           COUNT(*) AS n_lines
    FROM lines
    GROUP BY 1, 2
    """,
)
def source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw line-oriented text source (``spark.read.text``) — the
    unstructured half of corpus ingestion: write a document sample out
    as plain text (one doc per line), read it back as a one-column
    lines DataFrame, profile it.  Equality against the parquet-derived
    oracle proves the text round-trip preserves content byte-for-byte.

    Scale design: text sources split by line at arbitrary byte offsets,
    so a 100 TB dump parallelizes per-block with no schema or footer
    metadata; the profile agg groups on derived per-line stats, which
    collapses the corpus to its (length, token-count) signature —
    map-side combinable, shuffle is histogram-sized.
    """
    # Line-oriented text cannot represent embedded newlines or NULLs
    # (a doc with '\n' would read back as two rows and break the
    # round-trip): normalize them away EXPLICITLY, mirrored in the
    # oracle — a no-op on this corpus, a contract on any other.
    docs = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 5 == 0) & F.col("text").isNotNull())
        .select(F.replace(F.col("text"), F.lit("\n"), F.lit(" ")).alias("text"))
    )
    path = scratch("text_lines")
    docs.write.mode("overwrite").text(path)
    back = spark.read.text(path)
    toks = F.filter(F.split(F.lower(F.col("value")), " "), lambda t: t != "")
    return (
        back.select(
            F.length("value").alias("n_chars"), F.size(toks).alias("n_tokens")
        )
        .groupBy("n_chars", "n_tokens")
        .agg(F.count("*").alias("n_lines"))
    )


@query(
    "scan_partition_pruned_join",
    oracle="""
    WITH fact AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS order_month, o_totalprice
        FROM orders
    ),
    dim AS (
        SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS order_month
        FROM orders
        WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1997-01' AND '1997-06'
    )
    SELECT f.order_month,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(f.o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM fact f JOIN dim d ON f.order_month = d.order_month
    GROUP BY f.order_month
    """,
)
def scan_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP): the fact table is stored
    partitioned by month; joining it to a filtered dim on the partition
    column must prune the fact SCAN to the dim's months at runtime —
    Spark injects the dim's build-side values as a pruning subquery
    into the fact scan (``dynamicpruningexpression``, pinned in
    tests/test_plans.py).

    This is THE 100 TB star-join accelerator: without DPP the fact scan
    reads every partition and the join discards 90%+ of it; with DPP
    the scan itself skips non-qualifying partitions — I/O proportional
    to the dim filter, not the fact size.  The partitioned table stages
    build-once per corpus (immutable input → marker-cached)."""
    def build(dst: str) -> None:
        # ONE file per month partition: the default write parallelism
        # sprays ~32 small files into each of ~80 partitions, and a
        # fresh session then pays footer-reads per file at discovery
        # time (measured 4.5 s → the repartition cuts it ~3×).  At
        # 100 TB the same move is the compaction a table format runs.
        load(spark, sf_dir, "orders").withColumn(
            "order_month", F.date_format("o_orderdate", "yyyy-MM")
        ).repartition("order_month").write.mode("overwrite").partitionBy(
            "order_month"
        ).parquet(dst)

    path = staged_build_once("orders_by_month_1f", sf_dir, build)
    fact = spark.read.parquet(path)
    dim = (
        load(spark, sf_dir, "orders")
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .filter(F.col("order_month").between("1997-01", "1997-06"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), "order_month")
        .groupBy("order_month")
        .agg(
            F.count("*").alias("n"),
            F.sum(pin_int(F.col("o_totalprice"), 100)).alias("cents"),
        )
    )


@query(
    "source_python_datasource",
    oracle="""
    WITH rows AS (
        SELECT CAST(i // 2000 AS INTEGER) AS part_id,
               i AS row_id,
               (i * 37) % 10000 AS amount_cents
        FROM range(8000) t(i)
    )
    SELECT part_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(amount_cents) AS BIGINT) AS sum_cents,
           CAST(MIN(row_id) AS BIGINT) AS first_row,
           CAST(MAX(row_id) AS BIGINT) AS last_row
    FROM rows GROUP BY part_id
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource API — the extension point a deployment
    uses to wrap an external system (a REST feed, a proprietary store, a
    message queue) as a first-class partitioned source.  The source here
    is a deterministic generator (4 partitions × 2000 rows, amount =
    row*37 mod 10000) so the connector PLUMBING — schema declaration,
    partition planning, per-partition iteration, registration — is real
    and hash-verified while the payload stays reproducible.

    Scale design: ``partitions()`` is the parallelism contract — each
    InputPartition reads independently on an executor (here 4, in
    production one per shard/topic-partition/page-range); rows stream
    through Arrow without materializing the whole partition.  The agg on
    top is map-side-combinable as usual.
    """
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _SyntheticLedgerSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "synthetic_ledger"

        def schema(self) -> str:
            return "part_id int, row_id long, amount_cents long"

        def reader(self, schema):  # noqa: ANN001 — API signature
            return _SyntheticLedgerReader()

    class _SyntheticLedgerReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(4)]

        def read(self, partition):
            base = partition.value * 2000
            for r in range(2000):
                rid = base + r
                yield (partition.value, rid, (rid * 37) % 10000)

    session_memo(
        spark, "ds:synthetic_ledger", "",
        lambda: (spark.dataSource.register(_SyntheticLedgerSource), []),
        version=spark,
    )
    src = spark.read.format("synthetic_ledger").load()
    return src.groupBy("part_id").agg(
        F.count("*").alias("n"),
        F.sum("amount_cents").alias("sum_cents"),
        F.min("row_id").alias("first_row"),
        F.max("row_id").alias("last_row"),
    )


@query(
    "sink_python_datasource",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_price_cents
    FROM orders
    WHERE o_orderkey % 7 = 0
    GROUP BY o_orderstatus
    """,
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource WRITE path — the other half of
    source_python_datasource: a custom ``DataSourceWriter`` receives
    each partition's row iterator on an executor, writes a JSONL shard
    named by its partition id, and returns a commit message; the
    driver-side ``commit()`` sees every message (the two-phase-commit
    hook where a production sink would publish a manifest / flip a
    transaction marker).  A malformed write here would either lose rows
    or break the JSON — the read-back aggregate hash-matching the
    ORIGINAL parquet proves the sink faithful end-to-end.

    Scale design: one shard per partition, no driver funnel — writes
    scale with executors exactly like the built-in file sinks; the
    commit protocol is the same task-attempt/commit-message shape
    FileFormatWriter uses, so speculative/retried tasks overwrite their
    own deterministic shard name idempotently.  The writer subclasses
    ``DataSourceArrowWriter`` — batches arrive as Arrow RecordBatches,
    not per-pickled Rows (measured 15 s → ~1 s for 21k rows at sf0.1:
    the row-object protocol pays per-row conversion; Arrow pays
    per-batch).

    Anchor attribution (r9, calm-box min 3.9 s): the cost is ~2 s of
    Python-data-source worker spin-up for the WRITE query plus ~2 s for
    the JSONL read-back query — the measured per-custom-source-query
    constant (BASELINE.md r7 note), not per-row work; the write/agg
    bodies are sub-second.  The spin-up is paid once per query, so at
    100 TB it amortizes to noise."""
    from pyspark import TaskContext
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceArrowWriter,
        WriterCommitMessage,
    )

    class _ShardDone(WriterCommitMessage):
        def __init__(self, pid: int, n: int):
            self.pid = pid
            self.n = n

    class _JsonlDirSink(DataSource):
        @classmethod
        def name(cls) -> str:
            return "jsonl_dir_sink"

        def writer(self, schema, overwrite):  # noqa: ANN001 — API sig
            return _JsonlDirWriter(self.options["path"])

    class _JsonlDirWriter(DataSourceArrowWriter):
        def __init__(self, path: str):
            self.path = path

        def write(self, batches):  # noqa: ANN001 — API signature
            # Serialization stays BATCH-priced end-to-end: each Arrow
            # RecordBatch renders to one JSONL block via pandas'
            # C-implemented ``to_json(lines=True)`` — no per-row dict
            # materialization, no per-row ``json.dumps`` call (the r8
            # shape paid both; at 100 TB that is the difference between
            # an Arrow-speed sink and a Python-speed one).
            pid = TaskContext.get().partitionId()
            n = 0
            out = os.path.join(self.path, f"part-{pid:05d}.jsonl")
            with open(out, "w") as f:
                for batch in batches:
                    if batch.num_rows == 0:
                        continue
                    block = batch.to_pandas().to_json(
                        orient="records", lines=True
                    )
                    f.write(block if block.endswith("\n") else block + "\n")
                    n += batch.num_rows
            return _ShardDone(pid, n)

        def commit(self, messages):  # noqa: ANN001 — API signature
            total = sum(m.n for m in messages)
            with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
                f.write(str(total))

        def abort(self, messages):  # noqa: ANN001 — API signature
            pass

    session_memo(
        spark, "ds:jsonl_dir_sink", "",
        lambda: (spark.dataSource.register(_JsonlDirSink), []),
        version=spark,
    )

    dst = scratch("pyds_sink")

    sample = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            pin_int(F.col("o_totalprice"), 100)
            .alias("price_cents"),
        )
    )
    sample.write.format("jsonl_dir_sink").option("path", dst).mode(
        "append"
    ).save()

    back = spark.read.schema(
        "o_orderkey long, o_orderstatus string, price_cents long"
    ).json(os.path.join(dst, "part-*.jsonl"))
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum("price_cents").alias("sum_price_cents"),
    )


@query(
    "sink_idempotent_partitions",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_price_cents,
           CAST(1 AS BIGINT) AS max_writes_per_key
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def sink_idempotent_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent per-partition sink — the JDBC-shaped exactly-once
    recipe for external systems without a transactional commit
    protocol: make every partition's write a DETERMINISTIC OVERWRITE
    (hash-partition on the primary key, write one file named by
    partition id via temp-file + atomic ``os.replace``), and
    at-least-once execution collapses to exactly-once effect — a task
    retry or a full job re-run rewrites byte-identical state instead of
    duplicating rows (the same contract as `INSERT .. ON CONFLICT
    UPDATE` keyed writes against a database).

    The key PROVES it by running the write action TWICE over the same
    data, then auditing the sink: ``max_writes_per_key`` counts the
    occurrences of the most-duplicated primary key in the read-back —
    the oracle pins it to 1, so a non-idempotent sink (append mode, a
    nondeterministic partitioner, non-atomic file replace) hash-fails
    rather than passing with silent double-writes.

    Scale: `repartition(pk)` is the only shuffle; each partition
    serializes its Arrow batches as one pandas ``to_json(lines=True)``
    block (batch-priced like the fixed `sink_python_datasource`
    writer).  At 1000 executors the same shape fans out to 1000
    independent idempotent writers with no coordination — the commit
    protocol IS the determinism."""
    import pandas as pd
    from pyspark import TaskContext

    dst = scratch("idempotent_sink")

    upserts = (
        load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            pin_int(F.col("o_totalprice"), 100)
            .alias("price_cents"),
        )
        .repartition(8, "o_orderkey")
    )

    def write_partition(batches):
        pdfs = [b for b in batches]
        pid = TaskContext.get().partitionId()
        out = os.path.join(dst, f"part-{pid:05d}.jsonl")
        tmp = out + ".tmp"
        n = 0
        with open(tmp, "w") as f:
            for pdf in pdfs:
                if len(pdf) == 0:
                    continue
                block = pdf.to_json(orient="records", lines=True)
                f.write(block if block.endswith("\n") else block + "\n")
                n += len(pdf)
        os.replace(tmp, out)  # atomic: readers never see a partial file
        yield pd.DataFrame({"pid": [pid], "n": [n]})

    writer = upserts.mapInPandas(write_partition, "pid int, n long")
    writer.count()  # run 1
    writer.count()  # run 2 — the idempotency trial (full re-execution)

    back = spark.read.schema(
        "o_orderkey long, o_orderstatus string, price_cents long"
    ).json(os.path.join(dst, "part-*.jsonl"))
    per_key = back.groupBy("o_orderkey", "o_orderstatus").agg(
        F.count("*").alias("writes"),
        F.max("price_cents").alias("price_cents"),
    )
    assert glob.glob(os.path.join(dst, "*.tmp")) == []
    return per_key.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_keys"),
        F.sum("price_cents").alias("sum_price_cents"),
        F.max("writes").alias("max_writes_per_key"),
    )


@query(
    "source_csv_malformed_permissive",
    oracle="""
    WITH rows AS (
        SELECT i,
               CASE WHEN i % 7 = 3 THEN 1 ELSE 0 END AS bad
        FROM range(2000) t(i)
    )
    SELECT CAST(bad AS INTEGER) AS bad,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN bad = 0 THEN i * 3 ELSE 0 END) AS BIGINT)
               AS sum_amount
    FROM rows GROUP BY bad
    """,
)
def source_csv_malformed_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input robustness — the ETL surface every ingest needs:
    a CSV where every 7th-ish line is corrupt (wrong arity / non-numeric
    where a BIGINT is declared), read in PERMISSIVE mode with a
    ``_corrupt_record`` capture column: good rows parse, bad rows land
    whole in the capture column with NULL typed fields — no job failure,
    no silent drop (FAILFAST would kill the 100 TB job on row one;
    DROPMALFORMED silently loses data — permissive+capture is the only
    audit-safe mode).  The staged file is deterministic (id, id*3 rows,
    planted corruption on id % 7 = 3), so the oracle reconstructs the
    expected good/bad split from range arithmetic — independent of any
    CSV reader dialect.

    Scale design: CSV parsing is per-row scan work; the capture column
    costs nothing on good rows; the audit agg is map-side-combinable."""
    import os as _os

    def build(dst: str) -> None:
        lines = ["id,amount"]
        for i in range(2000):
            if i % 7 == 3:
                # wrong arity + non-numeric: unparseable under the schema
                lines.append(f"{i},oops,extra")
            else:
                lines.append(f"{i},{i * 3}")
        with open(_os.path.join(dst, "part-00000.csv"), "w") as f:
            f.write("\n".join(lines) + "\n")

    src = staged_build_once("csv_malformed", sf_dir, build)
    df = spark.read.csv(
        src,
        header=True,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
        schema="id BIGINT, amount BIGINT, _corrupt_record STRING",
    )
    bad = F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)
    return (
        df.select(bad.cast("int").alias("bad"), "amount")
        .groupBy("bad")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce(F.col("amount"), F.lit(0))).alias("sum_amount"),
        )
    )


@query(
    "sink_dynamic_partition_overwrite",
    oracle="""
    WITH base AS (
        SELECT o_orderkey,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr
        FROM orders WHERE o_orderkey % 10 = 0
    ),
    final AS (
        -- partitions other than 1997 keep v1; 1997 holds the v2 rewrite
        -- (same rows, cents doubled)
        SELECT o_orderkey, cents, yr FROM base WHERE yr <> 1997
        UNION ALL
        SELECT o_orderkey, cents * 2, yr FROM base WHERE yr = 1997
    )
    SELECT yr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM final GROUP BY yr
    """,
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite — the warehouse backfill primitive:
    INSERT OVERWRITE replaces ONLY the partitions present in the
    incoming data (here the 1997 partition gets a corrected rewrite
    with doubled cents) while every other partition's files stay
    untouched.  STATIC mode — the default — would have dropped the
    whole table first; the conf is scoped and restored.

    Scale story: a daily pipeline rewrites yesterday's partition
    without touching years of history — no read-modify-write of the
    full table, no window where other partitions are missing.  The
    oracle reconstructs the expected post-backfill table arithmetically.
    """
    base = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            pin_int(F.col("o_totalprice"), 100)
            .alias("cents"),
            F.year("o_orderdate").cast("int").alias("yr"),
        )
    )
    path = scratch("dyn_partition_overwrite")
    base.write.mode("overwrite").partitionBy("yr").parquet(path)
    fix = base.filter(F.col("yr") == 1997).withColumn(
        "cents", F.col("cents") * 2
    )
    with scoped_sql_conf(
        spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        fix.write.mode("overwrite").partitionBy("yr").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy(F.col("yr").cast("int").alias("yr")).agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("sum_cents"),
    )


@query(
    "scan_files_metadata",
    oracle="""
    SELECT CAST(o_orderkey % 4 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders
    GROUP BY o_orderkey % 4
    """,
)
def scan_files_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``_metadata`` hidden file-source column — Spark's built-in
    lineage surface (file path / name / size / modification time per
    row) that a data-engineering pipeline reads to attribute rows to
    their source files (debugging a bad shard, incremental-load
    bookkeeping, audit trails).

    The staged input is four DETERMINISTIC shard files
    (``shard_k{0..3}.parquet``, orders split by o_orderkey % 4, each
    written as a single renamed part file), so the file→content mapping
    is exact and the oracle reconstructs the per-file aggregates
    arithmetically from the base table — no filesystem access in the
    oracle.  The key extracts the shard id from
    ``_metadata.file_name`` with a regexp and proves file-level
    attribution hash-exactly.

    Scale: ``_metadata`` is populated by the scan operator itself (no
    join against a listing); grouping by a value parsed from it is a
    plain map-side-combinable aggregate."""
    def build(dst: str) -> None:
        o = load(spark, sf_dir, "orders")
        for i in range(4):
            _write_one_parquet(
                o.filter(F.col("o_orderkey") % 4 == i),
                os.path.join(dst, f"shard_k{i}.parquet"),
            )

    src = staged_build_once("files_metadata", sf_dir, build)
    df = spark.read.parquet(src)
    shard = F.regexp_extract(
        F.col("_metadata.file_name"), r"shard_k(\d+)\.parquet", 1
    ).cast("long")
    return df.select(
        shard.alias("shard"),
        pin_int(F.col("o_totalprice"), 100)
        .alias("cents"),
    ).groupBy("shard").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("sum_cents"),
    )


_PROFILE_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
)


@query(
    "scan_profile_columns",
    oracle="""
    SELECT 'o_orderkey' AS col_name,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) FROM orders
    """,
)
def scan_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the data-quality first look every ingest
    pipeline runs): per column of ``orders``, exact null count and
    exact distinct count, long-form (col_name, n_nulls, n_distinct).

    Shape choice, deliberately per-column: ONE aggregate carrying six
    COUNT(DISTINCT col) triggers Spark's distinct-agg EXPAND — every
    input row replicated 6× into one shuffle (the agg_salted_twophase
    build note) — whereas six independent single-column aggregates
    each get a COLUMN-PRUNED parquet scan (ReadSchema shows exactly
    one column), map-side partial distinct, and a |distinct|-sized
    shuffle, then union six 1-row results.  Scans are cheap; shuffled
    bytes are not.  All-integer output sidesteps min/max-as-string
    engine formatting drift (double→VARCHAR differs; this stays in
    BIGINT).

    At 100 TB the same plan holds per column; swap countDistinct for
    approx_count_distinct (agg_approx_distinct) when ±2% suffices."""
    o = load(spark, sf_dir, "orders")
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            o.select(c).agg(
                F.lit(c).alias("col_name"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
                F.countDistinct(c).alias("n_distinct"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "sink_compact_small_files",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang
    """,
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION — the operational chore every long-lived
    100 TB table needs: a fragmented table (simulated by writing
    documents as 64 splits — the shape streaming micro-batches and
    over-parallel writers leave behind) is rewritten with
    ``coalesce(target)`` into few large files, and the aggregate over
    the compacted copy must equal the source exactly (the oracle reads
    the ORIGINAL parquet — compaction is proven lossless, column for
    column).

    coalesce(), not repartition(): compaction wants to MERGE splits
    without paying a shuffle — coalesce is a narrow dependency (each
    output file unions whole input splits).  repartition() would add
    an exchange and is only right when the files must also be
    re-clustered.  A unit test pins the file-count contract (64 → ≤ 4
    data files); at scale the target count comes from
    total_bytes / desired_file_size (128 MB-1 GB), per partition when
    the table is partitioned.

    Scale: read + write, zero shuffles; the verifying aggregate
    shuffles only the ~|langs| partial rows."""
    d = load(spark, sf_dir, "documents")
    frag_path = scratch("compact_fragmented")
    d.repartition(64).write.mode("overwrite").parquet(frag_path)
    fragmented = spark.read.parquet(frag_path)
    compact_path = scratch("compact_output")
    fragmented.coalesce(4).write.mode("overwrite").parquet(compact_path)
    back = spark.read.parquet(compact_path)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


@query(
    "source_xml_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_value_cents,
           CAST(SUM(CAST(FLOOR(epoch_us(ts) / 1000000.0) AS BIGINT))
                AS BIGINT) AS sum_epoch_s
    FROM events
    WHERE event_id % 5 = 1
    GROUP BY event_type
    """,
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events sample → XML files → read back with explicit schema →
    aggregate; the oracle reads the ORIGINAL parquet, so equality
    proves the XML round-trip lossless for the projected columns.
    Spark 4 ships the XML source built in (``format("xml")`` +
    ``rowTag``) — this key completes the source family next to
    CSV/JSONL/ORC/text/python-datasource.

    Like the JSONL twin, floats travel as integer cents and timestamps
    as epoch seconds: XML is a text format, so a double round-trip is
    parse-dependent while integers are exact on both engines.

    Scale: the XML reader splits by row tag per file; at 100 TB the
    same code reads a directory of shard files in parallel.  Schema is
    EXPLICIT — schema inference over XML is a full extra pass."""
    sample = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 5 == 1)
        .select(
            "event_id",
            "event_type",
            pin_int(F.col("value"), 100)
            .alias("value_cents"),
            F.unix_timestamp("ts").alias("epoch_s"),
        )
    )
    path = scratch("xml_roundtrip")
    (
        sample.write.mode("overwrite")
        .format("xml")
        .option("rowTag", "event")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "event")
        .schema(
            "event_id BIGINT, event_type STRING,"
            " value_cents BIGINT, epoch_s BIGINT"
        )
        .load(path)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("value_cents").alias("sum_value_cents"),
        F.sum("epoch_s").alias("sum_epoch_s"),
    )


@query(
    "scan_observe_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS sum_qty_cents,
           CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_high_disc,
           CAST(COUNT(*) - COUNT(l_shipdate) AS BIGINT) AS n_null_shipdate
    FROM lineitem
    """,
)
def scan_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.observe()`` — production pipeline OBSERVABILITY: named
    metrics (row count, checksum, predicate counts, null counts)
    accumulated ON THE EXECUTORS during a normal pass over the data and
    surfaced to the driver after the action, for free — no second scan,
    no separate audit query.  This is how a 100 TB ingest job publishes
    row counts and DQ counters to its metrics system (via
    QueryExecutionListener / StreamingQueryListener in production; the
    Observation helper is the batch convenience wrapper).

    The observed pass here is a ``noop``-format write (Spark's
    benchmark sink — a full distributed materialization that discards
    rows), standing in for the real job's parquet write.  The returned
    frame IS the metric row; the oracle recomputes the same four
    metrics with a direct aggregate, hash-proving that observe()
    counted every row exactly once — the metrics are exact integers,
    not samples.

    Scale: metrics ride the existing scan as accumulator updates; zero
    extra shuffles, zero extra scans, driver traffic = one tiny row."""
    from pyspark.sql import Observation

    # Project BEFORE observe: the noop sink consumes whatever columns
    # reach it, so without this the scan reads all 16 lineitem columns
    # for 3-column metrics (ReadSchema pins the pruning; ~30% faster
    # warm even at sf0.1, and the difference IS the scan at 100 TB).
    li = load(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_discount", "l_shipdate"
    )
    obs = Observation("scan_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(pin_int(F.col("l_quantity"), 100)).alias("sum_qty_cents"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_high_disc"),
        (F.count(F.lit(1)) - F.count("l_shipdate")).alias("n_null_shipdate"),
    )
    # The pipeline's real action: a distributed write (noop sink — rows
    # flow through every executor and are dropped; metrics accumulate).
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get  # bounded: exactly one metrics row, the observe idiom
    return spark.range(1).select(
        *(
            F.lit(int(m[c])).cast("long").alias(c)
            for c in ("n_rows", "sum_qty_cents", "n_high_disc", "n_null_shipdate")
        )
    )


@query(
    "sink_managed_table_ctas",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS sum_price_cents
    FROM orders
    WHERE o_orderkey % 3 = 0
    GROUP BY o_orderstatus
    """,
)
def sink_managed_table_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANAGED-TABLE lifecycle (the catalog surface): CTAS via
    ``saveAsTable`` into the session catalog, existence verified
    through the Catalog API, read back with ``spark.table`` by NAME —
    no paths anywhere downstream of the write.  This is the warehouse
    idiom the path-based sink keys don't cover: production tables are
    catalog entries (metastore/Unity/Glue) with schema, stats, and
    lineage attached; consumers address names, and the engine resolves
    storage.  The oracle reads the original parquet — CTAS is proven
    lossless for the projected columns.

    Integer cents are materialized IN the table (the no-ROUND rule
    applies at write time, so every reader aggregates exact integers).
    Scale: saveAsTable is the same distributed parquet write as the
    path sinks (here overwrite-idempotent); at 100 TB it would add
    partitioning/bucketing clauses — exercised by the dedicated
    bucketed/partitioned sink keys."""
    from urllib.parse import urlparse

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    tbl = "graft_ctas_orders"
    # The in-memory session catalog forgets tables between sessions but
    # their managed LOCATION survives on disk; a fresh session's CTAS
    # then throws LOCATION_ALREADY_EXISTS.  Drop the catalog entry if
    # known AND clear the orphan location (our own scratch table only —
    # a metastore-backed deployment never hits this; DROP TABLE cleans
    # both there).
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    leftover = os.path.join(
        urlparse(spark.conf.get("spark.sql.warehouse.dir")).path, tbl
    )
    if os.path.exists(leftover):
        shutil.rmtree(leftover)
    (
        o.select(
            "o_orderkey",
            "o_orderstatus",
            pin_int(F.col("o_totalprice"), 100)
            .alias("price_cents"),
        )
        .write.mode("overwrite")
        .format("parquet")
        .saveAsTable(tbl)
    )
    if not spark.catalog.tableExists(tbl):
        raise RuntimeError(f"CTAS did not register {tbl} in the catalog")
    return (
        spark.table(tbl)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum("price_cents").alias("sum_price_cents"),
        )
    )


@query(
    "source_binaryfile_scan",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS byte_len,
           md5(text) AS md5_hex
    FROM documents
    WHERE doc_id % 10 = 0
    """,
)
def source_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` SOURCE — Spark's whole-file reader (path,
    modificationTime, length, content) that every unstructured-media
    lake ingest starts from: one row per file, the payload as a
    `binary` column, `pathGlobFilter` pruning non-matching files at
    LISTING time (no read amplification).  The staged corpus is one
    `.bin` file per sampled document (UTF-8 text bytes; built once via
    the staging-marker contract from the ``load`` frame's doc_id % 10 = 0
    sample, each file written by a ``mapInPandas`` kernel in the task
    that holds the row — the driver holds no rows); a decoy `.tmp` file
    proves the glob filter excludes it.  doc_id is recovered from the file
    NAME, and content integrity is proven end-to-end: Spark's
    md5(content) over raw bytes hash-matches DuckDB's md5(text) over
    the same UTF-8 string.

    Scale: binaryFile parallelizes one file per task slice and caps
    single-file size at spark.sql.sources.binaryFile.maxLength (2 GiB);
    the small-file storm this staging creates is exactly what
    `sink_compact_small_files` exists to fix — at 100 TB you'd read
    media payloads from consolidated parquet/sequence containers, with
    binaryFile reserved for ingest.

    Dialect trap (r7): byte length of a VARCHAR in DuckDB is
    `strlen` — `length` counts CHARACTERS and `octet_length` only
    accepts BLOBs."""
    def build(dst: str) -> None:
        def write_docs(batches):
            for pdf in batches:
                for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                    with open(os.path.join(dst, f"doc_{doc_id}.bin"), "wb") as f:
                        f.write(text.encode("utf-8"))
                yield pdf[["doc_id"]]

        (
            load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 10 == 0)
            .select("doc_id", "text")
            .mapInPandas(write_docs, "doc_id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        with open(os.path.join(dst, "decoy.tmp"), "wb") as f:
            f.write(b"not a document")

    src = staged_build_once("binaryfiles", sf_dir, build)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(src)
    )
    return df.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").cast("long").alias("byte_len"),
        F.md5(F.col("content")).alias("md5_hex"),
    )


@query(
    "sink_jdbc_roundtrip",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE l_orderkey % 11 = 0 AND l_quantity < 30
    GROUP BY l_returnflag
    """,
)
def sink_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC sink + source roundtrip against EMBEDDED DERBY (the JDBC
    jars Spark ships for its Hive metastore double as a real RDBMS) —
    the relational-database boundary every Spark deployment crosses:
    write a lineitem sample through the JDBC batch-insert path
    (explicit VARCHAR column type for the flag — Derby's default
    string mapping is CLOB, which breaks comparisons), then read it
    back as a PARALLEL PARTITIONED scan (partitionColumn/numPartitions
    = 4 → four range-predicate queries, the mechanism that keeps a
    100 TB JDBC ingest from serializing through one connection) with a
    quantity predicate PUSHED DOWN into the remote SQL.  The oracle
    reads the original parquet — equality proves the roundtrip is
    lossless through Derby's type system and that the pushed filter
    dropped nothing.

    Embedded Derby is single-JVM — at cluster scale the same code
    points at a networked RDBMS; the partitioned-read shape and
    pushdown semantics are identical."""
    sample = load(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 11 == 0
    ).select(
        "l_orderkey",
        "l_returnflag",
        "l_quantity",
        pin_int(F.col("l_extendedprice"), 100)
        .alias("cents"),
    )
    # Derby creates the database directory itself, so it is a child of
    # the scratch area.  Embedded Derby keeps the DB BOOTED in the JVM
    # after the first run (r10 ADVICE): wiping a live store deletes
    # files the engine still holds open.  Shut it down first — Derby
    # signals a SUCCESSFUL shutdown by throwing SQLException 08006, so
    # the except is the expected path; a "not booted" failure is
    # equally fine.
    db = os.path.join(scratch_path("derby_lineitem"), "db")
    if os.path.isdir(db):
        try:
            spark._jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:{db};shutdown=true"
            )
        except Exception:
            pass
    scratch("derby_lineitem")
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    (
        sample.write.format("jdbc")
        .option("url", f"jdbc:derby:{db};create=true")
        .option("dbtable", "li")
        .option("driver", driver)
        .option(
            "createTableColumnTypes",
            "l_returnflag VARCHAR(1)",
        )
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("jdbc")
        .option("url", f"jdbc:derby:{db}")
        .option("dbtable", "li")
        .option("driver", driver)
        .option("partitionColumn", "l_orderkey")
        .option("lowerBound", "0")
        .option("upperBound", "700000")
        .option("numPartitions", "4")
        .load()
    )
    return (
        back.filter(F.col("l_quantity") < 30)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("sum_cents"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
    )


def _stage_glob_orders(spark: SparkSession, sf_dir: str) -> str:
    """Nested per-priority layout with one deterministically-named
    parquet file per tier (prio=X/orders_pX.parquet) — shared by
    source_glob_filter (glob pruning) and source_file_lineage
    (_metadata provenance); built once per corpus."""
    def build(root: str) -> None:
        orders = load(spark, sf_dir, "orders")
        for tier in ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT", "5-LOW"]:
            tag = tier.split("-")[0]
            # one deterministic file name per tier, nested one level
            _write_one_parquet(
                orders.filter(F.col("o_orderpriority").startswith(tag)),
                os.path.join(root, f"prio={tag}", f"orders_p{tag}.parquet"),
            )

    return staged_build_once("glob_orders", sf_dir, build)


@query(
    "source_glob_filter",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderstatus
    """,
)
def source_glob_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-aware directory ingestion: stage orders into NESTED
    per-priority subdirectories (prio=X/part...parquet — a lake layout
    without Hive-style partition discovery), then read back ONLY the
    urgent tiers via ``recursiveFileLookup`` + ``pathGlobFilter`` —
    file-level pruning that never opens the excluded files (the option
    pair every lake reader leans on when directory layout, not a
    partition column, encodes the split).  Staged once per corpus via
    the staged_build_once fingerprint; oracle filters the original
    parquet by the same priorities — equality proves the glob selected
    exactly the right files.

    pathGlobFilter matches FILE names (not directories), so the stage
    embeds the priority tier into each file's name; recursiveFileLookup
    walks the nesting without partition inference."""
    root = _stage_glob_orders(spark, sf_dir)
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "orders_p[12].parquet")
        .parquet(root)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(pin_int(F.col("o_totalprice"), 100))
        .alias("sum_cents"),
    )


@query(
    "source_file_lineage",
    oracle="""
    SELECT CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS tier,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(1 AS BIGINT) AS n_files,
           CAST(COUNT(*) - 1 AS BIGINT) AS max_row_index
    FROM orders
    GROUP BY 1
    """,
)
def source_file_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE LINEAGE via the hidden ``_metadata`` column — the
    provenance surface every lake audit leans on: which FILE did each
    row come from, and where inside it (``_metadata.file_name`` +
    ``_metadata.row_index``, Spark's per-file row numbering).  Reads
    the source_glob_filter staged layout (one deterministically-named
    parquet file per priority tier, nested one level), derives each
    row's tier FROM ITS FILE NAME only, and aggregates per tier —
    counts, exact cents, distinct file count, and the max row_index.
    The oracle recomputes everything from the o_orderpriority COLUMN of
    the original table: equality proves the file→row mapping is exact
    (every row landed in its tier's file and nowhere else) and that
    row_index numbers 0..n−1 within each single-file tier.

    Scale: ``_metadata`` is populated by the scan itself — zero join,
    zero shuffle beyond the 5-group agg; at 100 TB this is how
    quarantine-by-file and per-drop reprocessing stay O(groups), not
    O(rows), in bookkeeping."""
    root = _stage_glob_orders(spark, sf_dir)
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(root)
        .select(
            F.regexp_extract(F.col("_metadata.file_name"), r"orders_p(\d)", 1)
            .cast("int")
            .alias("tier"),
            F.col("_metadata.row_index").alias("row_index"),
            pin_int(F.col("o_totalprice"), 100)
            .alias("cents"),
            F.col("_metadata.file_name").alias("fname"),
        )
    )
    return back.groupBy("tier").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("sum_cents"),
        F.countDistinct("fname").alias("n_files"),
        F.max("row_index").alias("max_row_index"),
    )


@query(
    "sink_analyze_stats",
    oracle="""
    WITH src AS (
        SELECT CAST(l_quantity AS BIGINT) AS qty,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                   AS price_cents
        FROM lineitem WHERE l_orderkey % 5 = 0
    )
    SELECT column_name, stat, value FROM (
        SELECT 'qty' AS column_name, 'min' AS stat,
               CAST(MIN(qty) AS VARCHAR) AS value FROM src
        UNION ALL
        SELECT 'qty', 'max', CAST(MAX(qty) AS VARCHAR) FROM src
        UNION ALL
        SELECT 'qty', 'num_nulls',
               CAST(COUNT(*) - COUNT(qty) AS VARCHAR) FROM src
        UNION ALL
        SELECT 'price_cents', 'min',
               CAST(MIN(price_cents) AS VARCHAR) FROM src
        UNION ALL
        SELECT 'price_cents', 'max',
               CAST(MAX(price_cents) AS VARCHAR) FROM src
        UNION ALL
        SELECT 'price_cents', 'num_nulls',
               CAST(COUNT(*) - COUNT(price_cents) AS VARCHAR) FROM src
    )
    """,
)
def sink_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATALOG STATISTICS lifecycle — the cost-based-optimizer input
    surface: CTAS a managed table, run ``ANALYZE TABLE ... COMPUTE
    STATISTICS FOR COLUMNS``, and read the stored column statistics
    BACK THROUGH THE CATALOG (``DESCRIBE EXTENDED table col`` as a
    DataFrame — no paths, no collect), emitting (column, stat, value)
    long-form for the EXACT stats: min, max, num_nulls.  The oracle
    recomputes those from the source rows — equality proves the
    analyze job scanned exactly the written table and the catalog
    round-trips the values losslessly.  ``distinct_count`` is
    deliberately excluded: ANALYZE stores an HLL++ APPROXIMATION
    (measured 93 for 100 distinct) — asserting it against an exact
    oracle would be wrong by design.

    Scale: ANALYZE is one map-side-combinable stats pass (the same
    partial-agg shape as agg_global) whose output is O(columns), and
    it is what makes CBO join reordering / broadcast decisions real on
    a 100 TB warehouse — stats-less catalogs force rule-only planning.
    The stats fetch is O(1) catalog metadata."""
    from urllib.parse import urlparse

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 5 == 0)
    tbl = "graft_stats_lineitem"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    leftover = os.path.join(
        urlparse(spark.conf.get("spark.sql.warehouse.dir")).path, tbl
    )
    if os.path.exists(leftover):
        shutil.rmtree(leftover)
    (
        li.select(
            F.col("l_quantity").cast("long").alias("qty"),
            pin_int(F.col("l_extendedprice"), 100)
            .alias("price_cents"),
        )
        .write.mode("overwrite")
        .format("parquet")
        .saveAsTable(tbl)
    )
    spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS qty, price_cents")
    stats = None
    for col in ["qty", "price_cents"]:
        d = (
            spark.sql(f"DESCRIBE EXTENDED {tbl} {col}")
            .filter(F.col("info_name").isin("min", "max", "num_nulls"))
            .select(
                F.lit(col).alias("column_name"),
                F.col("info_name").alias("stat"),
                F.col("info_value").alias("value"),
            )
        )
        stats = d if stats is None else stats.unionByName(d)
    return stats


@query(
    "source_delta_log_time_travel",
    oracle="""
    SELECT CAST(0 AS BIGINT) AS version, doc_id, source, n_chars
    FROM documents WHERE doc_id % 3 IN (0, 1)
    UNION ALL
    SELECT CAST(1 AS BIGINT), doc_id, source, n_chars
    FROM documents WHERE doc_id % 3 IN (1, 2)
    """,
)
def source_delta_log_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-Lake-STYLE versioned table via the PUBLIC transaction-log
    protocol (delta.io PROTOCOL.md: ordered `_delta_log/%020d.json`
    commits of JSONL `add`/`remove` actions; a snapshot at version V =
    replay commits 0..V, last action per file path wins), implemented
    with plain parquet + Spark JSON — the spark-delta jar is absent in
    this container (SURVEY §2 missing-sources note), but the log
    FORMAT is public and the reader is just dataframes.

    Staged table: v0 adds file A (doc_id%3=0) and file B (doc_id%3=1);
    commit 1 adds file C (doc_id%3=2) and removes A.  The key returns
    the long-form union of the v0 and v1 snapshots (TIME TRAVEL: both
    versions served from one immutable file set + log replay).  The
    oracle recomputes each snapshot straight from `documents` —
    equality proves log replay selects exactly the right files.

    Scale design: snapshot resolution is METADATA work — actions per
    log file are read with spark.read.json, last-action-per-path is a
    (path) window over the action stream (log-sized, not data-sized),
    and only the LIVE files' parquet is ever opened (at 100 TB the
    log is MBs while the table is the 100 TB; this separation is the
    whole point of the format).  The bounded live-file list crosses to
    the driver via collect_model_artifact (metadata bounded by log
    size — the sanctioned fixed-set pattern), then one multi-path
    parquet scan serves the snapshot.  The staged table is an INPUT
    (pure function of the corpus) so it builds once per corpus
    fingerprint via staged_build_once (r13 ADVICE: the per-invocation
    rmtree+rebuild charged every run 3 parquet writes and could race a
    concurrent reader mid-replay)."""
    import json as _json

    from pyspark.sql import Window as W

    from engine.core import collect_model_artifact

    def _build(table: str) -> None:
        log_dir = os.path.join(table, "_delta_log")
        os.makedirs(log_dir, exist_ok=True)
        d = load(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars"
        )

        for residue, name in enumerate(["A", "B", "C"]):
            _write_one_parquet(
                d.filter(F.col("doc_id") % 3 == residue),
                os.path.join(table, f"part-{name}.parquet"),
            )
        with open(os.path.join(log_dir, f"{0:020d}.json"), "w") as f:
            f.write(_json.dumps({"protocol": {"minReaderVersion": 1}}) + "\n")
            f.write(_json.dumps({"metaData": {"id": "spark-graft-delta"}}) + "\n")
            f.write(_json.dumps({"add": {"path": "part-A.parquet"}}) + "\n")
            f.write(_json.dumps({"add": {"path": "part-B.parquet"}}) + "\n")
        with open(os.path.join(log_dir, f"{1:020d}.json"), "w") as f:
            f.write(_json.dumps({"add": {"path": "part-C.parquet"}}) + "\n")
            f.write(_json.dumps({"remove": {"path": "part-A.parquet"}}) + "\n")

    table = staged_build_once("delta_log_table", sf_dir, _build)
    log_dir = os.path.join(table, "_delta_log")

    # Action replay: one JSON read per commit (log-bounded loop), then
    # last-action-per-path via a (path) window.
    acts = None
    for v in range(2):
        raw = spark.read.json(os.path.join(log_dir, f"{v:020d}.json"))
        cols = set(raw.columns)
        a = raw.select(
            F.lit(v).alias("v"),
            (F.col("add.path") if "add" in cols else F.lit(None).cast("string"))
            .alias("add_path"),
            (
                F.col("remove.path")
                if "remove" in cols
                else F.lit(None).cast("string")
            ).alias("remove_path"),
        ).filter(
            F.col("add_path").isNotNull() | F.col("remove_path").isNotNull()
        )
        acts = a if acts is None else acts.unionByName(a)
    acts = acts.select(
        "v",
        F.coalesce("add_path", "remove_path").alias("path"),
        F.col("add_path").isNotNull().cast("int").alias("is_add"),
    ).persist()

    def snapshot(version: int) -> DataFrame:
        # Within one commit a remove+add for the same path is a legal
        # re-add per delta PROTOCOL.md and the ADD wins reconciliation —
        # order adds first at equal v (r13 ADVICE; the staged log never
        # exercises this, but the replay now matches the public spec).
        w = W.partitionBy("path").orderBy(F.desc("v"), F.desc("is_add"))
        live = (
            acts.filter(F.col("v") <= version)
            .withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("is_add") == 1))
            .select("path")
        )
        paths = sorted(
            os.path.join(table, r["path"])
            for r in collect_model_artifact(live)
        )
        return spark.read.parquet(*paths).select(
            F.lit(version).cast("long").alias("version"),
            "doc_id", "source", "n_chars",
        )

    return snapshot(0).unionByName(snapshot(1))


# -- fixed-width file source (r15: the mainframe/COBOL-layout ingest
# -- shape the source family lacked) ----------------------------------------
# Layout (58 bytes/line): orderkey %010d | custkey %010d | status %s(1)
#   | total_cents %012d | orderdate yyyy-MM-dd (10) | priority %-15s
_FW_LINE_LEN = 58


@query(
    "source_fixed_width",
    oracle=f"""
    SELECT o_orderkey,
           o_custkey,
           o_orderstatus,
           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority,
           CAST({_FW_LINE_LEN} AS BIGINT) AS line_len
    FROM orders
    WHERE o_orderkey % 7 = 0
    """,
)
def source_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-WIDTH text source — the mainframe/COBOL copybook layout
    that still feeds real warehouse backfills: a 58-byte-per-line file
    staged once from orders (distributed `write.text` of a
    format_string projection; total price as zero-padded integer CENTS
    so the round-trip never depends on float formatting), read back
    with `spark.read.text` and parsed by COLUMN POSITION — substring
    slices, ANSI casts (leading zeros are legal longs), rtrim on the
    space-padded field, to_date on the ISO slice.  The parquet-derived
    oracle hash-proves the full format round-trip including types;
    line_len pins the record width (a torn write would shift every
    subsequent field).

    Scale: fixed-width lines split at arbitrary byte offsets like any
    text source (no footer, no schema page), so a 100 TB extract
    parallelizes per HDFS block; the parse is per-row JVM substring
    arithmetic — map-only, no Python, no shuffle before the (absent)
    aggregation.  Filter pushdown doesn't exist on raw text, which is
    the honest cost of the format — the key filters AFTER parse, and
    the residue is mirrored in the oracle."""

    def _build(d: str) -> None:
        (
            load(spark, sf_dir, "orders")
            .select(
                F.format_string(
                    "%010d%010d%s%012d%s%-15s",
                    F.col("o_orderkey"),
                    F.col("o_custkey"),
                    F.col("o_orderstatus"),
                    pin_int(F.col("o_totalprice"), 100),
                    F.date_format(F.col("o_orderdate"), "yyyy-MM-dd"),
                    F.col("o_orderpriority"),
                ).alias("value")
            )
            .write.mode("overwrite")
            .text(d)
        )

    path = staged_build_once("fixed_width", sf_dir, _build)
    lines = spark.read.text(path)
    sub = lambda a, b: F.substring(F.col("value"), a, b)  # noqa: E731
    return lines.select(
        sub(1, 10).cast("long").alias("o_orderkey"),
        sub(11, 10).cast("long").alias("o_custkey"),
        sub(21, 1).alias("o_orderstatus"),
        sub(22, 12).cast("long").alias("total_cents"),
        F.to_date(sub(34, 10)).alias("order_date"),
        F.rtrim(sub(44, 15)).alias("o_orderpriority"),
        F.length("value").cast("long").alias("line_len"),
    ).filter(F.col("o_orderkey") % 7 == 0)
