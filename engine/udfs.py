"""UDF / UDAF / UDTF surface (SURVEY.md §2.11) — the Python boundary.

UDFs are the slow path by design; these keys exist to prove the Arrow
boundary works, each documenting its cost model:

- ``udf_python_scalar`` is the ONLY row-at-a-time Python UDF in the
  engine (pickled per row — never use in a hot path);
- the pandas variants move Arrow record batches (vectorized, the
  10-100× faster escape hatch when JVM built-ins can't express logic);
- every float produced in Python is pinned with floor(x*1e4+0.5)/1e4
  before comparison, since numpy's libm need not bit-match DuckDB's.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf, udtf

from engine.core import pin, pin_int, query
from engine.io import load, register_views


@query(
    "udf_python_scalar",
    oracle="""
    SELECT c_custkey,
           replace(lower(c_name), '#', '-') AS slug
    FROM customer
    """,
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Row-at-a-time Python UDF: every row crosses JVM→Python pickled.
    # Semantics deliberately trivial so the oracle can mirror them in SQL.
    @udf("string")
    def slugify(name: str) -> str:
        return name.lower().replace("#", "-")

    c = load(spark, sf_dir, "customer")
    return c.select("c_custkey", slugify("c_name").alias("slug"))


@query(
    "udf_arrow_optimized",
    oracle="""
    SELECT c_custkey,
           upper(split_part(c_name, '#', 2)) AS tag,
           CAST(strlen(c_name) AS BIGINT)    AS name_bytes
    FROM customer
    WHERE c_custkey % 2 = 1
    """,
)
def udf_arrow_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARROW-OPTIMIZED Python UDF (``@udf(..., useArrow=True)``, Spark
    3.5+/4): the scalar-UDF signature of udf_python_scalar — the
    function still receives one Python value per call — but rows cross
    the boundary in Arrow record batches instead of one pickled row per
    call, cutting (de)serialization ~2× without rewriting the kernel as
    pandas.  This is the migration path for existing row-UDF code:
    flip the flag, keep the function.

    The plan shows ``ArrowEvalPython`` (vs udf_python_scalar's
    ``BatchEvalPython``) — pinned in tests/test_plans.py.  Kernel:
    extract-after-# + upper + byte length (pure ASCII corpus names, so
    DuckDB strlen == Python len; the r7 octet_length trap documented in
    engine/functions.py).  The %2 residue bounds rows and pushes to the
    scan below the Python stage."""

    @udf("string", useArrow=True)
    def tag_of(name: str) -> str:
        return name.split("#", 1)[1].upper() if "#" in name else ""

    @udf("long", useArrow=True)
    def byte_len(name: str) -> int:
        return len(name.encode("utf-8"))

    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") % 2 == 1)
    return c.select(
        "c_custkey",
        tag_of("c_name").alias("tag"),
        byte_len("c_name").alias("name_bytes"),
    )


@query(
    "udf_pandas_scalar",
    oracle="""
    SELECT event_id,
           FLOOR(1.0 / (1.0 + EXP(-(value / 100.0))) * 10000 + 0.5) / 10000 AS sigmoid
    FROM events
    WHERE event_id % 2 = 0
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Vectorized Series→Series over Arrow batches — the scale-safe form.
    import numpy as np

    @pandas_udf("double")
    def sigmoid(v: pd.Series) -> pd.Series:
        return 1.0 / (1.0 + np.exp(-(v / 100.0)))

    # residue filter bounds the verified output only (engine/io.py note)
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") % 2 == 0)
    return ev.select("event_id", pin(sigmoid("value"), 10000).alias("sigmoid"))


@query(
    "udf_pandas_grouped_agg",
    oracle="""
    WITH rw AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS w
        FROM events
    )
    SELECT user_id,
           FLOOR(SUM(value * w) / SUM(w) * 10000 + 0.5) / 10000 AS wmean
    FROM rw
    GROUP BY user_id
    """,
)
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Grouped-agg pandas UDF: per-user recency-weighted mean (weight =
    # time rank).  Group rows arrive unordered → sort inside the UDF on
    # the (ts, event_id) total order before weighting.
    import numpy as np

    @pandas_udf("double")
    def wmean(us: pd.Series, eid: pd.Series, v: pd.Series) -> float:
        d = pd.DataFrame({"us": us, "eid": eid, "v": v}).sort_values(["us", "eid"])
        w = np.arange(1, len(d) + 1, dtype="float64")
        return float((d["v"].to_numpy() * w).sum() / w.sum())

    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    return ev.groupBy("user_id").agg(
        pin(wmean(us, F.col("event_id"), F.col("value")), 10000).alias("wmean")
    )


@query(
    "udf_apply_in_pandas",
    oracle="""
    WITH stats AS (
        SELECT event_id, event_type, value,
               AVG(value)         OVER (PARTITION BY event_type) AS m,
               STDDEV_SAMP(value) OVER (PARTITION BY event_type) AS s
        FROM events
    )
    SELECT event_id, event_type,
           FLOOR((value - m) / s * 10000 + 0.5) / 10000 AS z
    FROM stats
    WHERE event_id % 2 = 0
    """,
)
def udf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    # applyInPandas: whole group as one pandas DataFrame (per-group
    # z-score).  Groups must fit executor memory — fine for bounded
    # event_type cardinality, never for per-user groups at 100 TB.
    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        m = pdf["value"].mean()
        s = pdf["value"].std(ddof=1)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "z": (pdf["value"] - m) / s,
            }
        )

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = ev.groupBy("event_type").applyInPandas(
        zscore, schema="event_id long, event_type string, z double"
    )
    # group stats computed over ALL rows; residue filter bounds only the
    # verified output (engine/io.py note)
    return out.select(
        "event_id", "event_type", pin(F.col("z"), 10000).alias("z")
    ).filter(F.col("event_id") % 2 == 0)


@query(
    "udf_cogroup_in_pandas",
    oracle="""
    WITH p AS (
        SELECT user_id, ts, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT p.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN EXISTS (
                    SELECT 1 FROM c
                    WHERE c.user_id = p.user_id
                      AND c.ts <= p.ts
                      AND c.ts >= p.ts - INTERVAL 1 HOUR)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
           CAST(SUM(CASE WHEN EXISTS (
                    SELECT 1 FROM c
                    WHERE c.user_id = p.user_id
                      AND c.ts <= p.ts
                      AND c.ts >= p.ts - INTERVAL 1 HOUR)
                THEN cents ELSE 0 END) AS BIGINT) AS attributed_cents
    FROM p GROUP BY p.user_id
    """,
)
def udf_cogroup_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COGROUPED applyInPandas — the two-sided Arrow boundary
    (``df1.groupBy(k).cogroup(df2.groupBy(k)).applyInPandas``): both
    relations shuffle on user_id once and each group lands in Python as
    a PAIR of pandas frames, here driving ``pd.merge_asof`` — the
    canonical cogroup kernel (per-purchase backward as-of match against
    that user's clicks within a 1 h tolerance) that plain
    ``applyInPandas`` cannot express without a pre-join.  Outputs are
    integer-exact (counts + attributed cents), so the correlated-EXISTS
    oracle hash-matches bit-for-bit; the only float (value→cents) is
    floor-pinned JVM-side BEFORE the boundary.

    Scale: the cogroup key is a HASH BUCKET (user_id mod 64), not the
    raw user_id — per-entity groups mean one Arrow batch pair and one
    kernel invocation PER USER (10⁸ tiny batches at cluster scale;
    measured 9 s vs 2.6 s at sf0.1 for the same result), while bucketed
    cogroup amortizes the boundary to |buckets| invocations and
    ``merge_asof(by="user_id")`` keeps the per-user semantics VECTORIZED
    inside each bucket.  The shuffle is the same two-sided
    hashpartitioning either way.  The engine's batch as-of joins
    (`join_asof`, `join_asof_nearest`) remain the 100 TB default; this
    key proves the escape hatch for kernels with no DataFrame
    equivalent."""
    # Per-side column names MUST be distinct (p_ts/c_ts, user_id/c_uid —
    # only the grouping key may repeat): both sides
    # derive from one scan, and with a shared name the analyzer's
    # attribute dedup + downstream column pruning (any later
    # select/reorder — e.g. the driver's sorted-column projection)
    # prunes the right side's 'ts' out from under the Python worker
    # (KeyError in the kernel; caught by the fresh-default-session
    # verify, masked by a projection-free collect).
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        pin_int(F.col("value"), 100).alias("cents"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"), F.col("ts").alias("c_ts")
    )

    def attribute(purch: pd.DataFrame, clk: pd.DataFrame) -> pd.DataFrame:
        if purch.empty:
            # buckets with clicks but no purchases emit nothing (the
            # oracle aggregates purchases only)
            return pd.DataFrame(
                {
                    "user_id": pd.Series([], dtype="int64"),
                    "n_purchases": pd.Series([], dtype="int64"),
                    "n_attributed": pd.Series([], dtype="int64"),
                    "attributed_cents": pd.Series([], dtype="int64"),
                }
            )
        import numpy as np

        p = purch.sort_values("p_ts").reset_index(drop=True)
        if clk.empty:
            hit = np.zeros(len(p), dtype=bool)
        else:
            # merge_asof sorts on the ON key globally; by="user_id"
            # scopes each match to its user — one vectorized call for
            # the whole bucket.
            merged = pd.merge_asof(
                p,
                clk.sort_values("c_ts")[["c_uid", "c_ts"]],
                left_on="p_ts",
                right_on="c_ts",
                left_by="user_id",
                right_by="c_uid",
                direction="backward",
                tolerance=pd.Timedelta(hours=1),
            )
            hit = merged["c_ts"].notna().to_numpy()
        out = (
            p.assign(
                _hit=hit.astype("int64"),
                _hc=np.where(hit, p["cents"].to_numpy(), 0),
            )
            .groupby("user_id", sort=False)
            .agg(
                n_purchases=("cents", "size"),
                n_attributed=("_hit", "sum"),
                attributed_cents=("_hc", "sum"),
            )
            .reset_index()
        )
        return out.astype(
            {
                "user_id": "int64",
                "n_purchases": "int64",
                "n_attributed": "int64",
                "attributed_cents": "int64",
            }
        )

    return (
        purchases.withColumn("bucket", F.col("user_id") % 64)
        .groupBy("bucket")
        .cogroup(
            clicks.withColumn("bucket", F.col("c_uid") % 64).groupBy("bucket")
        )
        .applyInPandas(
            attribute,
            schema="user_id long, n_purchases long, n_attributed long, "
            "attributed_cents long",
        )
    )


@query(
    "udf_map_in_pandas",
    oracle="""
    SELECT event_id,
           CAST(FLOOR(value / 50.0) AS BIGINT) AS value_bucket,
           FLOOR(LN(1.0 + value) * 10000 + 0.5) / 10000 AS vlog,
           CAST(event_type = 'error' AS INTEGER) AS is_err
    FROM events
    WHERE event_id % 2 = 0
    """,
)
def udf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mapInPandas: partition-wise Arrow batch iterator — constant memory,
    # streaming through each partition (the right shape for featurizers).
    import numpy as np

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    "value_bucket": np.floor(pdf["value"] / 50.0).astype("int64"),
                    # np.log(1+v), not log1p: mirrors the oracle's LN(1+v)
                    # operand order so only libm ulps differ (pinned below)
                    "vlog": np.log(1.0 + pdf["value"]),
                    # int8, not bool — no BooleanType in declared outputs
                    # (driver canonicalizer risk, VERDICT r2 #1)
                    "is_err": (pdf["event_type"] == "error").astype("int32"),
                }
            )

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 2 == 0)
        .select("event_id", "event_type", "value")
    )
    out = ev.mapInPandas(
        featurize,
        schema="event_id long, value_bucket long, vlog double, is_err int",
    )
    return out.select(
        "event_id", "value_bucket", pin(F.col("vlog"), 10000).alias("vlog"), "is_err"
    )


@udtf(returnType="pos int, token string")
class _SplitExpand:
    """Python UDTF (Spark 4): expand a document into (pos, token) rows."""

    def eval(self, text: str):
        if text is None:
            return
        for i, tok in enumerate(t for t in text.lower().split(" ") if t):
            yield i, tok


@query(
    "udtf_split_expand",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents WHERE doc_id < 20
    )
    SELECT doc_id,
           CAST(generate_subscripts(ts, 1) - 1 AS INTEGER) AS pos,
           unnest(ts) AS token
    FROM toks
    """,
)
def udtf_split_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Table function via LATERAL join — each doc row expands to N rows.
    register_views(spark, sf_dir)
    spark.udtf.register("split_expand", _SplitExpand)
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM documents d, LATERAL split_expand(d.text) t
        WHERE d.doc_id < 20
        """
    )


@query(
    "udf_apply_in_arrow",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_value_cents
    FROM events
    GROUP BY event_type
    """,
)
def udf_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native grouped apply (round 3): ``applyInArrow`` hands each
    group to Python as a pyarrow.Table — zero pandas materialization,
    the cheapest Python boundary Spark offers.  The per-group math uses
    pyarrow.compute kernels whose floor/multiply are the same IEEE ops
    as the SQL oracle, so the result is hash-exact, not approximate.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def group_stats(t: pa.Table) -> pa.Table:
        v = t.column("value")
        cents = pc.cast(
            pc.floor(pc.add(pc.multiply(v, pa.scalar(100.0)), pa.scalar(0.5))),
            pa.int64(),
        )
        return pa.table(
            {
                "event_type": [t.column("event_type")[0].as_py()],
                "n": pa.array([t.num_rows], pa.int64()),
                "sum_value_cents": pa.array(
                    [pc.sum(cents).as_py()], pa.int64()
                ),
            }
        )

    ev = load(spark, sf_dir, "events").select("event_type", "value")
    return ev.groupBy("event_type").applyInArrow(
        group_stats, schema="event_type string, n long, sum_value_cents long"
    )


@query(
    "udtf_analyze_polymorphic",
    oracle="""
    WITH arrs AS (
        SELECT doc_id,
               [doc_id, n_chars, doc_id % 7]                  AS nums,
               string_split(lang || '|' || source, '|')        AS tags
        FROM documents WHERE doc_id < 30
    ),
    n AS (
        SELECT doc_id,
               CAST(generate_subscripts(nums, 1) - 1 AS INTEGER) AS pos,
               CAST(unnest(nums) AS BIGINT) AS num_val
        FROM arrs
    ),
    s AS (
        SELECT doc_id,
               CAST(generate_subscripts(tags, 1) - 1 AS INTEGER) AS pos,
               unnest(tags) AS tag_val
        FROM arrs
    )
    SELECT n.doc_id, n.pos, n.num_val, s.tag_val
    FROM n JOIN s ON n.doc_id = s.doc_id AND n.pos = s.pos
    """,
)
def udtf_analyze_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE polymorphic UDTF called at TWO types in the same query — a
    bigint array and a string array — with each call site's output
    schema resolved by the UDTF's ``analyze`` hook at plan time (the
    Spark 4 API for generic table functions; a ``returnType=`` UDTF
    would need one registration per element type).  The two lateral
    expansions are equi-joined back on (doc_id, pos); both arrays have
    matching positions by construction (3 nums, 2 tags → inner join
    keeps min(3,2) rows/doc), so the oracle's unnest-join reproduces
    the rows exactly.

    Scale note: a Python UDTF is a row-at-a-time boundary like
    udf_python_scalar — the API-surface demo; production unnesting of
    typed arrays stays with the native ``explode``/``posexplode``
    (fn_array_explode), which this key's oracle equivalence licenses."""

    class UnnestTyped:
        """Polymorphic Python UDTF (Spark 4 ``analyze``): unnests ANY array
        argument to (pos, val) rows, with the output VALUE TYPE derived from
        the argument's element type at plan time — one registration serves
        every array column in the warehouse.  ``analyze`` is the static
        schema-inference hook the plain ``returnType=`` UDTF
        (``_SplitExpand``) lacks."""

        @staticmethod
        def analyze(arg):
            from pyspark.sql.types import IntegerType, StructType
            from pyspark.sql.udtf import AnalyzeResult

            return AnalyzeResult(
                schema=StructType()
                .add("pos", IntegerType())
                .add("val", arg.dataType.elementType)
            )

        def eval(self, arr):
            if arr is None:
                return
            for i, v in enumerate(arr):
                yield i, v

    register_views(spark, sf_dir)
    # analyze-based UDTFs take NO returnType — the wrapped class's
    # analyze() supplies the schema per call site.
    spark.udtf.register("unnest_typed", udtf(UnnestTyped))
    return spark.sql(
        """
        WITH arrs AS (
            SELECT doc_id,
                   array(doc_id, n_chars, doc_id % 7)      AS nums,
                   split(concat(lang, '|', source), '\\\\|') AS tags
            FROM documents WHERE doc_id < 30
        )
        SELECT a.doc_id,
               n.pos,
               CAST(n.val AS BIGINT) AS num_val,
               s.val                 AS tag_val
        FROM arrs a,
             LATERAL unnest_typed(a.nums) n,
             LATERAL unnest_typed(a.tags) s
        WHERE n.pos = s.pos
        """
    )


@query(
    "udtf_table_arg_partitioned",
    oracle="""
    SELECT user_id,
           event_id,
           CAST(ROW_NUMBER() OVER w AS BIGINT)  AS running_n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w
                AS BIGINT)                      AS running_cents
    FROM events
    WHERE user_id % 17 = 3
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
)
def udtf_table_arg_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF with a TABLE ARGUMENT + ``PARTITION BY … ORDER BY …``
    (Spark 4) — the half of the UDTF surface ``analyze()`` polymorphism
    doesn't cover: the function consumes a whole RELATION, Spark
    hash-partitions it on the PARTITION BY key, sorts each group by the
    ORDER BY key, and runs one stateful instance per group.  That is
    exactly the execution shape of applyInPandasWithState / a window
    function, but exposed to pure-SQL callers as ``FROM f(TABLE(v)
    PARTITION BY k ORDER BY o)``.

    The kernel keeps running count + running exact-cents sum per user;
    the oracle is the equivalent ROW_NUMBER/SUM OVER window, so the
    hash match proves the per-partition instancing AND the intra-group
    ordering.  The %17 residue bounds output (~620 rows at sf0.01) and
    is pushed to the scan before the UDTF exchange.

    Scale: one shuffle on the partition key (same as the window twin);
    state is O(1) per group instance.  Row-at-a-time Python boundary —
    API-surface key; hot paths use the native window (win_running_sum)."""

    class RunningTotals:
        """Per-partition stateful UDTF: running count + running cents sum.

        With ``TABLE(v) PARTITION BY user_id ORDER BY event_id`` Spark
        instantiates a FRESH instance per partition key group and feeds
        rows in ORDER BY order, so plain instance attributes are correct
        per-user accumulators — the table-function analogue of a running
        window.  The single-key guard raises loudly if the partitioning
        contract were ever violated (two users in one instance would
        silently merge their running sums)."""

        def __init__(self):
            self.key = None
            self.n = 0
            self.cents = 0

        def eval(self, row):
            import math

            uid = row["user_id"]
            if self.key is None:
                self.key = uid
            elif self.key != uid:
                raise RuntimeError(
                    "PARTITION BY contract violated: one UDTF instance saw "
                    f"user_ids {self.key} and {uid}"
                )
            self.n += 1
            # identical IEEE ops to the SQL FLOOR(value*100 + 0.5) on both
            # engines (CLAUDE.md rounding rule); value ≥ 0 in this corpus
            # but math.floor == SQL FLOOR for negatives too.
            self.cents += int(math.floor(row["value"] * 100 + 0.5))
            yield uid, row["event_id"], self.n, self.cents

    register_views(spark, sf_dir)
    spark.udtf.register(
        "running_totals",
        udtf(
            RunningTotals,
            returnType=(
                "user_id bigint, event_id bigint, "
                "running_n bigint, running_cents bigint"
            ),
        ),
    )
    return spark.sql(
        """
        SELECT * FROM running_totals(
            TABLE(SELECT user_id, event_id, value
                  FROM events WHERE user_id % 17 = 3)
            PARTITION BY user_id ORDER BY event_id
        )
        """
    )


@query(
    "udf_map_in_arrow",
    oracle="""
    SELECT o_orderkey,
           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)  AS price_cents,
           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
               // 100000                                    AS price_band,
           CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                > 20000000 AS INTEGER)                      AS is_high
    FROM orders
    WHERE o_orderkey % 3 = 0
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the partition-wise RecordBatch iterator, the
    LAST Python boundary the surface was missing (scalar py/pandas UDF,
    grouped agg, applyInPandas, mapInPandas, applyInArrow, UDTF ×2 are
    the other eight): batches stream through Python with ZERO pandas
    materialization, so it beats mapInPandas whenever the kernel is
    expressible in pyarrow.compute / numpy-on-buffers (no per-column
    Series construction, no object boxing).  At 100 TB this is the
    recommended shape for Python hot paths: constant memory per batch
    (spark.sql.execution.arrow.maxRecordsPerBatch), whole-column
    vectorized kernels, one-copy in and out.

    The kernel is exact-integer cents math via pc.floor/multiply/add —
    the same IEEE double ops as the SQL oracle (CLAUDE.md rounding
    rule), then int64 division (non-negative, so Arrow's truncating
    divide == DuckDB's flooring ``//``) — hash-exact, not approximate.
    The %3 residue bounds verified rows (~5k at sf0.01) and pushes to
    the parquet scan BEFORE the Arrow exchange."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for b in batches:
            cents = pc.cast(
                pc.floor(
                    pc.add(
                        pc.multiply(b.column("o_totalprice"), pa.scalar(100.0)),
                        pa.scalar(0.5),
                    )
                ),
                pa.int64(),
            )
            band = pc.divide(cents, pa.scalar(100000, pa.int64()))
            hi = pc.cast(
                pc.greater(cents, pa.scalar(20_000_000, pa.int64())), pa.int32()
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("o_orderkey"), cents, band, hi],
                ["o_orderkey", "price_cents", "price_band", "is_high"],
            )

    od = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select("o_orderkey", "o_totalprice")
    )
    return od.mapInArrow(
        kernel,
        schema="o_orderkey long, price_cents long, price_band long, is_high int",
    )


@query(
    "udf_pandas_scalar_iter",
    oracle="""
    WITH br AS (
        SELECT CASE WHEN cents >= 50000 THEN 3
                    WHEN cents >= 20000 THEN 2
                    WHEN cents >= 5000  THEN 1
                    ELSE 0 END AS bracket,
               cents
        FROM (SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
              FROM events)
    )
    SELECT CAST(bracket AS BIGINT) AS bracket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM br GROUP BY bracket
    """,
)
def udf_pandas_scalar_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATOR-form pandas UDF (`Iterator[pd.Series] →
    Iterator[pd.Series]`, SCALAR_ITER eval type) — the third Python
    scalar boundary next to row-UDF and Series→Series, and the one
    that matters operationally: per-worker INITIALIZATION (model
    weights, codebooks, tokenizers) runs ONCE before the batch loop
    instead of per batch, then amortizes across every Arrow batch the
    task streams.  Here the "model" is a cutpoint table built before
    the loop; each batch is bucketed vectorized (`np.searchsorted`,
    side='right' ⇔ the oracle's >= CASE ladder on ascending cuts).

    Exact-integer kernel (cents in, bracket ordinal out) — no float
    drift can cross the Arrow boundary; the verified output is the
    bounded per-bracket rollup, proving the classification row-for-row
    through count AND sum.

    Scale: same Arrow batch transport as any pandas UDF; the iterator
    form is strictly better whenever setup cost exists — at 100 TB a
    per-batch 100 ms model load across 10⁶ batches is 28 wasted
    core-hours, the iterator form pays it once per task."""
    import numpy as np

    @pandas_udf("long")
    def bracketize(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        cuts = np.array([5000, 20000, 50000], dtype=np.int64)  # setup once
        for cents in batches:
            yield pd.Series(
                np.searchsorted(cuts, cents.to_numpy(), side="right")
            )

    ev = load(spark, sf_dir, "events")
    cents = pin_int(F.col("value"), 100)
    return (
        ev.select(cents.alias("cents"))
        .select(bracketize("cents").alias("bracket"), "cents")
        .groupBy("bracket")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("sum_cents"))
    )


@query(
    "udf_pandas_window",
    oracle="""
    SELECT event_id, roll_cents FROM (
        SELECT event_id,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS roll_cents
        FROM events WHERE user_id % 4 = 0
    ) WHERE event_id % 3 = 0
    """,
)
def udf_pandas_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PANDAS UDF AS A WINDOW FUNCTION — the third pandas execution
    path next to grouped-agg and grouped-map (plans as ArrowWindowPython / WindowInPandas):
    a grouped-agg-shaped UDF evaluated once per row over its BOUNDED
    window frame, here a 3-row rolling sum of integer cents per user.
    The frame slice Spark hands the kernel IS the window semantics —
    the Python side just reduces it, so the SQL-window oracle
    hash-matches exactly (integer sums; the float→cents pin happens
    JVM-side before the boundary).

    Scale: the bounded-frame window-Python node ships each frame slice as Arrow
    batches per partition — cost is O(rows · frame), fine for small
    fixed frames; unbounded frames degrade to whole-partition transfer,
    which is why the engine's running sums (win_running_sum) stay
    JVM-side.  And the node calls Python ONCE PER ROW (a 3-element
    Series per call — ~4 s for 100k rows at sf0.1), so the key bounds
    the windowed input by WHOLE USERS (user_id % 4, oracle-mirrored):
    every kept user's frames stay complete, and the per-row-call cost
    scales with the audited subset, not the corpus.  The event_id
    residue still bounds the verified output AFTER the window
    (engine/io.py note)."""
    import numpy as np

    @pandas_udf("long")
    def frame_sum(cents: pd.Series) -> int:
        return int(np.int64(cents.to_numpy().sum()))

    ev = load(spark, sf_dir, "events").filter(F.col("user_id") % 4 == 0)
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, W.currentRow)
    )
    cents = pin_int(F.col("value"), 100)
    out = ev.select(
        "event_id", frame_sum(cents).over(w).alias("roll_cents")
    )
    return out.filter(F.col("event_id") % 3 == 0)
