"""Vector-similarity operators over the embeddings table (SURVEY.md §2.9,
``sim_*`` + ``multimodal_join``) — the similarity-search surface of the
LLM-data-pipeline mandate, plus an LSH-bucketed ANN variant beyond the
survey inventory (the 100 TB scale path for top-k search).

All vector math is JVM-side higher-order functions (``zip_with`` +
``aggregate`` fold) on ``array<float>`` — float32 components widen to
double exactly, products are exact (24-bit × 24-bit ⊂ 53-bit), and every
accumulated float output is pinned with the deterministic
floor(x*scale+0.5)/scale form before comparison or ranking.

One exact-cosine chain: each step the embedding keys share has one
Spark function next to one SQL fragment, and every oracle that uses the
step splices the fragment in — the pinned-cosine top-5 (:func:`_top5` /
:data:`_TOP5_SQL`, with the candidate re-rank :func:`_rerank_top5` /
:data:`_RERANK_SQL`), fixed-IVF routing (:func:`_ivf_ranked` /
:data:`_IVF_RANKED_SQL`) and the quadratic-residue hyperplanes
(:func:`_qr_planes` / :func:`_qr_proj_sql`, also used by
``composite.pipeline_embedding_dedup_polyhash``).  Keys that compose
another key's result (``sim_ann_recall_eval``,
``sim_ivf_probe_recall_curve``) call its function and splice its oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.core import ORACLES as _ORACLES
from engine.core import fingerprint, fixpoint, pin, pin_int, query, session_memo
from engine.dedup import _COS_STEP_SQL
from engine.io import load


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


# Oracle building block: dot products via a 64-slot range table (the
# corpus embedding dim is fixed at 64 — FIXTURES.md).
_DIMS = "(SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS i)"


def _top5(scored: DataFrame) -> DataFrame:
    """The pinned-cosine top-5 of every exact-cosine key: row_number per
    q_id over (cosine desc, neighbor_id asc), rn <= 5.  Ranking rides
    the 4-decimal pinned cosine with an id tiebreak, so the order is
    identical on both engines even where raw cosines differ in the last
    ulp.  SQL twin: :data:`_TOP5_SQL`."""
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)


# SQL twin of _top5, fed by a `comps` CTE (q_id, neighbor_id, dot, nq2,
# ne2): the e4-pinned cosine, then row_number <= 5 per query.
_TOP5_SQL = """scored AS (
        SELECT q_id, neighbor_id,
               FLOOR(dot / (SQRT(nq2) * SQRT(ne2)) * 10000 + 0.5) / 10000
                   AS cosine
        FROM comps
    )
    SELECT q_id, neighbor_id, cosine, rn
    FROM (SELECT q_id, neighbor_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY cosine DESC, neighbor_id ASC) AS rn
          FROM scored)
    WHERE rn <= 5"""

# Exact re-rank of a `cand` CTE of distinct (q_id, neighbor_id) pairs:
# the pair's dot and squared norms, then _TOP5_SQL.  SQL twin of
# _rerank_top5 (and of the re-rank in every exact-cosine key).
_RERANK_SQL = f"""comps AS (
        SELECT c.q_id, c.neighbor_id,
               SUM(CAST(eq.embedding[i] AS DOUBLE)
                   * CAST(en.embedding[i] AS DOUBLE)) AS dot,
               SUM(CAST(eq.embedding[i] AS DOUBLE)
                   * CAST(eq.embedding[i] AS DOUBLE)) AS nq2,
               SUM(CAST(en.embedding[i] AS DOUBLE)
                   * CAST(en.embedding[i] AS DOUBLE)) AS ne2
        FROM cand c
        JOIN embeddings eq ON eq.vec_id = c.q_id
        JOIN embeddings en ON en.vec_id = c.neighbor_id,
        {_DIMS} s
        GROUP BY c.q_id, c.neighbor_id
    ),
    {_TOP5_SQL}"""


def _rerank_top5(e: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact pinned-cosine top-5 of skinny (q_id, neighbor_id) candidate
    pairs: the embeddings re-attach only after the candidates are
    distinct, the q side is filtered to the query ids (q_id < 5 by
    construction) and norms are folded once per row, not per pair."""
    eq = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("eq"),
        _norm(F.col("embedding")).alias("nq"),
    )
    en = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("en"),
        _norm(F.col("embedding")).alias("nn"),
    )
    cos = _dot(F.col("eq"), F.col("en")) / (F.col("nq") * F.col("nn"))
    return _top5(
        cand.join(eq, "q_id")
        .join(en, "neighbor_id")
        .select("q_id", "neighbor_id", pin(cos, 10000).alias("cosine"))
    )


@query(
    "sim_cosine_pairs",
    oracle=f"""
    WITH pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               a.embedding AS ea, b.embedding AS eb
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id % 10 = 0
    ),{_COS_STEP_SQL}
    SELECT vec_a, vec_b, cosine FROM cosines
    """,
)
def sim_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact cosine for a bounded, blocked pair set (consecutive ids,
    # every 10th) — the verification-stage primitive of an ANN pipeline.
    e = load(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
        _norm(F.col("embedding")).alias("na"),
    )
    b = e.select((F.col("vec_id") - 1).alias("join_id"), F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), _norm(F.col("embedding")).alias("nb"))
    cos = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, a.vec_a == b.join_id)
        .select("vec_a", "vec_b", pin(cos, 10000).alias("cosine"))
    )


@query(
    "sim_knn_topk",
    oracle=f"""
    WITH cand AS (
        SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < 5
    ),
    {_RERANK_SQL}
    """,
)
def sim_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: K query vectors broadcast against the
    collection, scored per partition, row_number ≤ k per query.

    This is the exact baseline; ``sim_ann_lsh_topk`` is the bucketed
    scale path.  Ranking happens on the *pinned* (4-decimal) cosine with
    a vec_id tiebreak, so the order is identical on both engines even
    where raw cosines differ in the last ulp.
    """
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("eq"),
        _norm(F.col("embedding")).alias("nq"),
    )
    # norms hoisted to per-row projections (once per vector / query,
    # not once per pair — bit-identical, the interpreted-HOF fold is
    # the per-pair cost here)
    cos = _dot(F.col("eq"), F.col("embedding")) / (
        F.col("nq") * F.col("ne")
    )
    scored = (
        e.withColumn("ne", _norm(F.col("embedding")))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            pin(cos, 10000).alias("cosine"),
        )
    )
    return _top5(scored)


@query(
    "sim_centroid_label",
    oracle=f"""
    SELECT label,
           CAST(s.i - 1 AS INTEGER) AS pos,
           FLOOR(AVG(CAST(embedding[s.i] AS DOUBLE)) * 10000 + 0.5) / 10000 AS centroid_comp
    FROM embeddings, {_DIMS} s
    GROUP BY label, s.i
    """,
)
def sim_centroid_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-label centroid in long form (label, pos, component): posexplode
    # → one shuffle on (label, pos).  Long form sidesteps array-typed
    # output (driver-harness-hostile) and is directly joinable downstream.
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "comp"))
        .groupBy("label", "pos")
        .agg(pin(F.avg(F.col("comp").cast("double")), 10000).alias("centroid_comp"))
    )


@query(
    "sim_norms",
    oracle=f"""
    SELECT vec_id,
           FLOOR(SQRT(SUM(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) * 10000 + 0.5) / 10000
               AS l2_norm,
           CAST(COUNT(*) AS INTEGER) AS n_dims
    FROM embeddings, {_DIMS} s
    GROUP BY vec_id
    """,
)
def sim_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-row HOF fold — no explode, no shuffle at all (the oracle's
    # unnest+group form is the naive twin).
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        pin(_norm(F.col("embedding")), 10000).alias("l2_norm"),
        F.size("embedding").alias("n_dims"),
    )


@query(
    "sim_label_knn_accuracy",
    oracle=f"""
    WITH sub AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 200),
    cand AS (
        SELECT a.vec_id AS a_id, a.label AS a_label, b.vec_id AS b_id, b.label AS b_label,
               SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dot,
               SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)) AS na2,
               SUM(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS nb2
        FROM sub a, sub b, {_DIMS} s
        WHERE a.vec_id <> b.vec_id
        GROUP BY a.vec_id, a.label, b.vec_id, b.label
    ),
    nn AS (
        SELECT a_id, a_label, b_label,
               ROW_NUMBER() OVER (PARTITION BY a_id
                                  ORDER BY FLOOR(dot / (SQRT(na2) * SQRT(nb2)) * 1000000 + 0.5) DESC,
                                           b_id ASC) AS rn
        FROM cand
    )
    SELECT a_label AS label,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN a_label = b_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN a_label = b_label THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS accuracy
    FROM nn WHERE rn = 1
    GROUP BY a_label
    """,
)
def sim_label_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 1-NN label agreement over a bounded subset — the
    classification-eval composite.  The neighbor order rides the pinned
    (6-decimal) cosine + vec_id tiebreak."""
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    a = e.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("ea"),
        F.col("label").alias("a_label"),
        _norm(F.col("embedding")).alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("eb"),
        F.col("label").alias("b_label"),
        _norm(F.col("embedding")).alias("nb"),
    )
    # norms per row (200 evals/side), not per pair (2 x ~40k) —
    # bit-identical hoist of the interpreted HOF fold
    cos_key = pin_int(
        _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 1000000
    )
    w = Window.partitionBy("a_id").orderBy(F.desc("cos_key"), F.asc("b_id"))
    nn = (
        a.join(F.broadcast(b), F.col("a_id") != F.col("b_id"))
        .select("a_id", "a_label", "b_id", "b_label", cos_key.alias("cos_key"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    correct = F.sum(
        F.when(F.col("a_label") == F.col("b_label"), 1).otherwise(0)
    )
    return nn.groupBy(F.col("a_label").alias("label")).agg(
        F.count("*").alias("n"),
        correct.cast("long").alias("n_correct"),
        (correct.cast("double") / F.count("*")).alias("accuracy"),
    )


@query(
    "multimodal_join",
    oracle=f"""
    WITH norms AS (
        SELECT vec_id,
               FLOOR(SQRT(SUM(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) * 10000 + 0.5) / 10000
                   AS l2_norm
        FROM embeddings, {_DIMS} s
        GROUP BY vec_id
    )
    SELECT d.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
           FLOOR(SUM(n.l2_norm) * 10000 + 0.5) / 10000 AS sum_norm
    FROM documents d JOIN norms n ON d.doc_id = n.vec_id
    GROUP BY d.lang
    """,
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Text × vector composite: join the two modalities on the shared id,
    # aggregate per language.  Norms are pinned per-row BEFORE the sum so
    # the (order-dependent) sum operates on identical addends; the sum of
    # ≤few-hundred 1e-4-grid values stays well inside the final pin.
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    norms = e.select(
        "vec_id", pin(_norm(F.col("embedding")), 10000).alias("l2_norm")
    )
    return (
        d.join(norms, d.doc_id == norms.vec_id)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            pin(F.sum("l2_norm"), 10000).alias("sum_norm"),
        )
    )


_LSH_TABLES = 8
_LSH_BITS = 4


@query("sim_ann_lsh_topk", oracle=None)  # rows-only: hash-derived planes
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH — the
    100 TB scale path for `sim_knn_topk` (beyond the SURVEY §2 inventory).

    Deterministic pseudo-random hyperplanes: plane (t, p) weights
    dimension d as ±1 by the parity of md5('t:p:d'), baked into the plan
    as literal arrays — no RNG, restart-stable.  Each vector lands in one bucket per table
    (signature = 4 sign bits); a query's candidates are the union of its
    8 buckets; exact cosine re-ranks candidates only.

    Tuning math (documented so the tradeoff is explicit): per-bit
    agreement for neighbors at cosine c is 1 - arccos(c)/π; at this
    corpus' weak structure (top cosines ≈ 0.35 → p ≈ 0.61) expected
    recall is 1-(1-p^4)^8 ≈ 0.70 while scoring only the collided
    buckets.  At 100 TB with near-duplicate-grade neighbors (c ≥ 0.9,
    p ≥ 0.86) the same config reaches ≈ 0.99 recall with ~n/16
    candidates per table.
    """
    e = load(spark, sf_dir, "embeddings")

    import hashlib

    import numpy as np
    import pandas as pd

    # The ±1 plane weights are row-independent constants (md5 parity of
    # 't:p:d' — deterministic across restarts).  All 32 projections run
    # as ONE Arrow-batched matmul per batch: the first cut folded a
    # literal 32×64 matrix with Catalyst HOFs (transform+zip_with+
    # aggregate), which evaluates ~4k interpreted boxed ops PER ROW —
    # measured 6 s for 2k vectors; the numpy batch form is milliseconds
    # and is exactly the shape a 100 TB scoring pass wants (vectorized
    # columnar batches, no per-row Python).  Sign ulp drift vs the fold
    # order is irrelevant here: buckets only gate CANDIDATES; the exact
    # cosine re-rank below stays JVM-side and pinned.
    W = np.array(
        [
            [
                1.0
                if hashlib.md5(f"{t}:{p}:{d}".encode()).digest()[0] % 2 == 0
                else -1.0
                for d in range(64)
            ]
            for t in range(_LSH_TABLES)
            for p in range(_LSH_BITS)
        ]
    )  # (tables*bits, 64), row t*_LSH_BITS+p

    @F.pandas_udf("array<int>")
    def _buckets(emb):  # pd.Series -> pd.Series (hints break on local pd)
        m = np.stack(emb.to_numpy()).astype(np.float64)  # (batch, 64)
        bits = (m @ W.T >= 0).astype(np.int64)  # (batch, tables*bits)
        sigs = (
            bits.reshape(len(m), _LSH_TABLES, _LSH_BITS)
            * (1 << np.arange(_LSH_BITS))
        ).sum(axis=2)
        return pd.Series(list(sigs.astype(np.int32)))

    def entries(df: DataFrame) -> DataFrame:
        """One (table, bucket) entry per vector per hash table."""
        return df.select(
            "vec_id", "embedding", "nrm", F.posexplode(_buckets("embedding"))
        ).withColumnsRenamed({"pos": "tbl", "col": "bucket"})

    # per-vector norm hoisted below the bucket explode (once per
    # vector, not once per scored candidate pair — bit-identical)
    eb = e.withColumn("nrm", _norm(F.col("embedding")))
    tables = entries(eb)
    q = entries(eb.filter(F.col("vec_id") < 5)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("eq"),
        F.col("nrm").alias("nq"),
        F.col("tbl").alias("q_tbl"),
        F.col("bucket").alias("q_bucket"),
    )
    cos = _dot(F.col("eq"), F.col("embedding")) / (
        F.col("nq") * F.col("nrm")
    )
    scored = (
        tables.join(
            F.broadcast(q),
            (F.col("tbl") == F.col("q_tbl")) & (F.col("bucket") == F.col("q_bucket")),
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            pin(cos, 10000).alias("cosine"),
        )
        .distinct()
    )
    return _top5(scored)


# Quadratic-residue hyperplanes: the hash-verified sign-LSH family of
# sim_ann_lsh_fixed_topk, sim_ann_lsh_multiprobe and
# composite.pipeline_embedding_dedup_polyhash.  Embeddings quantize to
# exact BIGINTs q = floor(float64(x) * _QR_Q) (a power-of-two scale, so
# the multiply is exact on both engines); plane p weights dim d by
# s(j) = 1 - 2*(h(j)^2 mod P mod 2), h a universal hash of j = p*64 + d
# mod P = 2^31-1 (_qr_planes); a projection is an order-independent
# int64 sum, so an Arrow matmul and DuckDB's UNNEST+SUM agree exactly.
# Plane p is the same plane for every key and every plane count.
_QR_Q = 1 << 20
_QR_M31 = 2_147_483_647


def _qr_planes(n_planes: int):
    """(n_planes, 64) exact int64 ±1 plane matrix, built on the driver
    for a UDF closure: the formula IS the matrix (nothing broadcast, no
    model artifact).  SQL twin: :func:`_qr_proj_sql`."""
    import numpy as np

    j = np.arange(n_planes * 64, dtype=np.int64).reshape(n_planes, 64)
    h = (j * 2654435761 + 97003999) % _QR_M31
    return 1 - 2 * ((h * h) % _QR_M31 % 2)


def _qr_proj_sql(src: str, n_planes: int) -> str:
    """The ``q`` (vec_id, qv), ``planes`` (p, d, s: the ±1 matrix of
    :func:`_qr_planes` as a relation) and ``proj`` (vec_id, plane, y)
    CTEs: the quantized projections of ``src``'s embeddings onto planes
    0..n_planes-1 — the SQL twin of ``floor(m * _QR_Q) @ _qr_planes(n).T``."""
    return f"""q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_QR_Q}) AS BIGINT))
                   AS qv
        FROM {src}
    ),
    planes AS (
        SELECT p, d, 1 - 2 * ((h * h) % {_QR_M31} % 2) AS s
        FROM (SELECT pl.p, dd.d,
                     ((pl.p * 64 + dd.d) * 2654435761 + 97003999) % {_QR_M31}
                         AS h
              FROM UNNEST(range({n_planes})) pl(p), UNNEST(range(64)) dd(d))
    ),
    proj AS (
        SELECT q.vec_id, pl.p AS plane,
               SUM(pl.s * qv[CAST(pl.d AS INTEGER) + 1]) AS y
        FROM q, planes pl
        GROUP BY 1, 2
    )"""


# 8 tables x 4 bits — the md5 sibling's tuning: at this corpus' weak
# structure (top cosines ~0.35, per-bit agreement ~0.61) recall needs
# many LOW-resolution tables (p^4 ~ 0.14 per table, union ~0.70);
# the near-dup keys' 2x8 shape (built for c >= 0.99) measured 2/25
# exact-top-k overlap here vs 19/25 (sf0.01) / 21/25 (sf0.1) for
# this shape — above the md5 sibling's 15/25.
_ALSH_TBL, _ALSH_BITS = 8, 4


def _alsh_entries(e: DataFrame) -> DataFrame:
    """(vec_id, t, b) LSH table entries over the quadratic-residue
    planes — shared by ``sim_ann_lsh_fixed_topk`` (8 tables, single
    probe) and ``sim_ann_lsh_multiprobe`` (first 4 tables + Hamming-1
    probes): one Arrow matmul per batch computes all 8 signatures, and
    table t is planes 4t..4t+3, so restricting to t < T keeps table
    identities stable across both keys.  SQL twin:
    :func:`_alsh_entries_sql`."""
    import numpy as np
    import pandas as pd

    S = _qr_planes(_ALSH_TBL * _ALSH_BITS)

    @F.pandas_udf("array<long>")
    def _alsh_sigs(emb):
        m = np.stack(emb.to_numpy()).astype(np.float64)
        qm = np.floor(m * _QR_Q).astype(np.int64)
        bits = (qm @ S.T >= 0).astype(np.int64)
        return pd.Series(
            np.stack(
                [
                    (
                        bits[:, t * _ALSH_BITS : (t + 1) * _ALSH_BITS]
                        * (1 << np.arange(_ALSH_BITS))
                    ).sum(axis=1)
                    for t in range(_ALSH_TBL)
                ],
                axis=1,
            ).tolist()
        )

    return e.select(
        "vec_id", _alsh_sigs("embedding").alias("sigs")
    ).select("vec_id", F.posexplode("sigs").alias("t", "b"))


def _alsh_entries_sql(n_tables: int) -> str:
    """SQL twin of :func:`_alsh_entries` restricted to t < n_tables:
    the quantized projections, then ``entries`` (vec_id, t, b)."""
    return f"""{_qr_proj_sql("embeddings", n_tables * _ALSH_BITS)},
    entries AS (
        SELECT vec_id, plane // {_ALSH_BITS} AS t,
               SUM(CASE WHEN y >= 0
                        THEN CAST(1 AS BIGINT)
                             << CAST(plane % {_ALSH_BITS} AS INTEGER)
                        ELSE 0 END) AS b
        FROM proj GROUP BY 1, 2
    )"""


@query(
    "sim_ann_lsh_fixed_topk",
    oracle=f"""
    WITH {_alsh_entries_sql(_ALSH_TBL)},
    cand AS (
        SELECT DISTINCT qe.vec_id AS q_id, e.vec_id AS neighbor_id
        FROM entries qe JOIN entries e
          ON e.t = qe.t AND e.b = qe.b AND e.vec_id <> qe.vec_id
        WHERE qe.vec_id < 5
    ),
    {_RERANK_SQL}
    """,
)
def sim_ann_lsh_fixed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-VERIFIED hyperplane-LSH ANN top-k — the LSH sibling of
    ``sim_ivf_fixed_topk`` (r11), completing the pair: both ANN index
    families now have a driver-hashable twin next to their rows-only
    trained/md5 variants.  Same quadratic-residue hyperplanes
    (:func:`_qr_planes`) as ``pipeline_embedding_dedup_polyhash``'s
    candidate stage (the square defeats the linear-parity plane
    correlation — see that key), so Spark's Arrow matmul and DuckDB's
    UNNEST+SUM agree exactly.  Queries (vec_id<5)
    probe their bucket in each of 8×4-bit tables; the bucket-mates
    union re-ranks on the PINNED 4-decimal cosine with a neighbor_id
    tiebreak (sim_ivf_fixed_topk discipline).

    Scale shape: signature is one Arrow matmul per batch; the probe
    join touches only the queries' buckets (~N/256 per table per
    query), never all-pairs; the distinct runs on skinny (q, neighbor)
    pairs BEFORE embeddings re-attach for the re-rank (simhash
    filter-before-distinct discipline, array payloads never cross the
    pair-dedup exchange).  No broadcast hints — the 5-query side is
    trivially small and AQE sees it (r12 audit)."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    entries = _alsh_entries(e)
    qe = entries.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "t", "b"
    )
    cand = (
        entries.join(qe, ["t", "b"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    return _rerank_top5(e, cand)


_MP_TBL = 4  # multiprobe uses HALF the tables (planes 0..15)
_MP_FLIPS = (0, 1, 2, 4, 8)  # exact bucket + the 4 Hamming-1 neighbors


@query(
    "sim_ann_lsh_multiprobe",
    oracle=f"""
    WITH {_alsh_entries_sql(_MP_TBL)},
    probes AS (
        SELECT vec_id AS q_id, t, xor(b, f.flip) AS b
        FROM entries, UNNEST([{", ".join(str(f) for f in _MP_FLIPS)}]) f(flip)
        WHERE vec_id < 5
    ),
    cand AS (
        SELECT DISTINCT p.q_id, e.vec_id AS neighbor_id
        FROM probes p JOIN entries e
          ON e.t = p.t AND e.b = p.b AND e.vec_id <> p.q_id
    ),
    {_RERANK_SQL}
    """,
)
def sim_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PROBE LSH ANN top-k — the production memory/recall trade
    the single-probe key can't show: instead of doubling TABLES to
    recover recall (each table duplicates the whole index), the query
    also probes the buckets at Hamming distance 1 from its own
    signature — here HALF the tables of ``sim_ann_lsh_fixed_topk``
    (4 of its 8, plane identities shared via :func:`_alsh_entries`)
    with 5 probes each (exact + 4 bit-flips).  Candidate volume per
    query is 5·N/2⁴ per table vs the 8-table key's 8·N/2⁴ — less
    index memory AND fewer lookups at comparable recall; the unit test
    pins multiprobe recall ≥ the same-4-tables single-probe recall
    (candidates are a superset by construction, and exact-cosine
    re-ranking is monotone in the candidate set).

    Everything stays in the hash-verified quantized family: signatures
    from ONE Arrow matmul (shared helper), probe signatures by integer
    XOR (exactly mirrored in the oracle), candidates
    filter-before-distinct on skinny pairs, pinned-cosine re-rank with
    the neighbor_id tiebreak.  Scale: probes multiply QUERY-side rows
    only (5 per table), never index entries; the probe join stays
    bucket-local."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    entries = _alsh_entries(e).filter(F.col("t") < _MP_TBL)
    probes = (
        entries.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("q_id"),
            "t",
            F.explode(
                F.array(
                    *[F.col("b").bitwiseXOR(F.lit(f)) for f in _MP_FLIPS]
                )
            ).alias("b"),
        )
    )
    cand = (
        entries.join(probes, ["t", "b"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    return _rerank_top5(e, cand)


_IVF_K = 16  # centroid count
_IVF_ITERS = 2  # bounded Lloyd iterations (deterministic init → stable)
_IVF_PROBES = 2  # centroids probed per query


@query("sim_ivf_topk", oracle=None)  # rows-only: iterative algorithm
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index — the second
    ANN scale path next to `sim_ann_lsh_topk`, and the engine's
    demonstration of ITERATIVE algorithms on DataFrames.  The index is
    an offline artifact: it is trained once per session and corpus
    (:func:`_build_ivf_index` through :func:`engine.core.session_memo`)
    and then only queried.

    1. init: centroids = the K lowest-vec_id vectors (deterministic);
    2. 2× Lloyd: assign each vector to its nearest centroid (K=16
       centroid matrix in the Arrow-UDF closure, one matmul per
       batch), recompute centroids as elementwise means via posexplode
       → (cid, pos) avg → ordered reassembly, collected as a bounded
       trained artifact (engine.core.collect_model_artifact);
    3. index: the final assignment IS the inverted file, persisted once;
    4. search (per call): the 5 query vectors are collected (a fixed
       query set), routed to their 2 nearest centroids on the driver by
       the SAME kernel that built the index, and exact-cosine re-rank
       only those lists (~2K/16 of the collection per probe).  A call
       runs no Python worker and retrains nothing.
    """
    import numpy as np

    from engine.core import collect_model_artifact

    inverted, route = session_memo(spark, "ivf_index", sf_dir,
                                   lambda: _build_ivf_index(spark, sf_dir))
    q = load(spark, sf_dir, "embeddings").select("vec_id", "embedding").filter(
        F.col("vec_id") < 5
    )
    qrows = sorted(collect_model_artifact(q), key=lambda r: r["vec_id"])
    lists = route(np.stack([np.asarray(r["embedding"]) for r in qrows]))
    # The routing rides the plan as a literal q_id → list_ids map: a
    # createDataFrame(<python list>) probe frame would run Python tasks.
    routing = F.create_map(*[
        c
        for r, top in zip(qrows, lists)
        for c in (
            F.lit(r["vec_id"]).cast("long"),
            F.array(*[F.lit(int(cid)).cast("long") for cid in top]),
        )
    ])
    probes = q.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("eq"),
        _norm(F.col("embedding")).alias("nq"),
        F.explode(routing[F.col("vec_id")]).alias("list_id"),
    )
    # query norm hoisted (10 evals) instead of per candidate pair;
    # e_emb's norm stays per-pair — candidate volume (~2N/K per query)
    # is BELOW the collection row count, so hoisting it would cost more
    cos = _dot(F.col("eq"), F.col("e_emb")) / (
        F.col("nq") * _norm(F.col("e_emb"))
    )
    # No distinct: the pairs are unique, since inverted holds one row
    # per vector (its nearest cid) and a query probes distinct cids.
    scored = (
        inverted.join(F.broadcast(probes), "list_id")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id", pin(cos, 10000).alias("cosine"))
    )
    return _top5(scored)


def _build_ivf_index(spark: SparkSession, sf_dir: str):
    """Train the ``sim_ivf_topk`` codebook and persist its inverted
    lists ``(neighbor_id, e_emb, list_id)``.  Returns ``((inverted,
    route), [inverted])`` for :func:`engine.core.session_memo`;
    ``route`` maps an (n, 64) matrix to each row's ``_IVF_PROBES``
    nearest centroid ids under the final codebook."""
    import numpy as np
    import pandas as pd

    from engine.core import collect_model_artifact, scoped_sql_conf

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def router(rows):
        # Centroids are a TRAINED MODEL ARTIFACT (K=16 rows, bounded by
        # construction) — bounded collect + closure capture: cloudpickle
        # ships the ~8 KB numpy block once per TASK.  A closure, never a
        # module-level function: cloudpickle pickles engine.* functions
        # by reference, and Python workers cannot import engine.
        rows = sorted(rows, key=lambda r: r["cid"])
        cids = np.array([r["cid"] for r in rows], dtype=np.int64)
        C = np.stack([np.asarray(r["c_emb"], dtype=np.float64) for r in rows])
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

        def route(m):
            m = np.asarray(m, dtype=np.float64)
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            # Pinned floor(sim*1e6+0.5), tiebreak smaller cid first.
            keys = np.floor(mn @ Cn.T * 1_000_000 + 0.5).astype(np.int64)
            order = np.lexsort(
                (np.broadcast_to(cids, keys.shape), -keys), axis=1
            )
            return cids[order[:, :_IVF_PROBES]]

        return route

    def assign(route) -> DataFrame:
        # Vectorized argmin over all K centroids in one matmul per
        # batch: map-only, no shuffle, no join.  (The very first cut
        # crossJoined every vector with every centroid and folded the
        # cosine with Catalyst HOFs per pair — measured 3.8 s at sf0.1.)
        @F.pandas_udf("array<bigint>")
        def _top_cids(emb):
            return pd.Series(list(route(np.stack(emb.to_numpy()))))

        return e.select(
            "vec_id", "embedding",
            F.element_at(_top_cids("embedding"), 1).alias("cid"),
        )

    rows = collect_model_artifact(e.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    ))
    # Each round's tiny 16×64 reduces run at 8 shuffle partitions, and
    # the next round needs only the collected matrix in its closure.
    with scoped_sql_conf(spark, {"spark.sql.shuffle.partitions": 8}):
        for _ in range(_IVF_ITERS):
            rows = collect_model_artifact(
                assign(router(rows))
                .select("cid", F.posexplode("embedding").alias("pos", "comp"))
                .groupBy("cid", "pos")
                .agg(F.avg(F.col("comp").cast("double")).alias("m"))
                .groupBy("cid")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "m"))),
                        lambda s: s["m"].cast("float"),
                    ).alias("c_emb")
                )
            )
    route = router(rows)
    inverted = assign(route).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("e_emb"),
        F.col("cid").alias("list_id"),
    ).persist()
    return (inverted, route), [inverted]


def _ivf_fixed_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed-IVF routing diamond shared by ``sim_ivf_fixed_topk``,
    ``sim_ivfpq_adc_topk``, ``sim_hard_negative_ivf`` and their tests:
    :func:`_ivf_ranked` at depth ``_IVF_PROBES``.  Persisted and
    materialized once per session through
    :func:`engine.core.session_memo`: every consumer fans it out
    (inverted lists, probes, a bounded artifact collect)."""
    return session_memo(spark, "ivf_fixed_ranked", sf_dir,
                        lambda: _build_ivf_fixed_ranked(spark, sf_dir))


def _build_ivf_fixed_ranked(spark: SparkSession, sf_dir: str):
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ranked = _ivf_ranked(e, _IVF_PROBES).persist()
    return ranked, [ranked]


def _ivf_ranked(e: DataFrame, depth: int) -> DataFrame:
    """Fixed-IVF routing: each vector's ``depth`` nearest of the 16
    lowest-vec_id centroids, ranked on the pinned 6-decimal cosine with
    a cid tiebreak — (vec_id, embedding, nrm, cid, cos_key, crn <=
    depth).  crn = 1 is the vector's inverted list; a query probes its
    crn <= p lists.  The one Spark home of the routing; SQL twin:
    :data:`_IVF_RANKED_SQL` (which ranks every centroid, so a consumer
    filters crn itself).  The 16-row centroid side broadcasts: map-only
    per vector, one window shuffle on vec_id."""
    # Norms hoisted to per-ROW projections before the crossJoin (r17
    # opt): _norm is an interpreted ~128-lambda HOF, and inside the
    # per-pair cosine it re-ran once per (vector, centroid) pair — 3
    # aggregates/pair over 16x the row count.  Hoisting is bit-identical
    # (the same fold over the same array yields the same double
    # wherever it is evaluated) and measured ~1.8x on this stage.  The
    # frame carries nrm so downstream re-ranks reuse it.
    en = e.select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    cents = e.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ec"),
        _norm(F.col("embedding")).alias("nrm_c"),
    )
    cos_key = pin_int(
        _dot(F.col("embedding"), F.col("ec")) / (F.col("nrm") * F.col("nrm_c")),
        1000000,
    )
    wc = Window.partitionBy("vec_id").orderBy(F.desc("cos_key"), F.asc("cid"))
    return (
        en.crossJoin(F.broadcast(cents))
        .select("vec_id", "embedding", "nrm", "cid", cos_key.alias("cos_key"))
        .withColumn("crn", F.row_number().over(wc))
        .filter(F.col("crn") <= depth)
    )


# SQL twin of _ivf_ranked: ``ranked`` (vec_id, cid, crn) over all 16
# centroids; consumers cut crn = 1 (lists) and crn <= p (probes).
_IVF_RANKED_SQL = f"""cents AS (
        SELECT vec_id AS cid, embedding AS ec FROM embeddings
        WHERE vec_id < {_IVF_K}
    ),
    ac AS (
        SELECT e.vec_id, c.cid,
               FLOOR(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(c.ec[i] AS DOUBLE))
                     / (SQRT(SUM(CAST(e.embedding[i] AS DOUBLE)
                                 * CAST(e.embedding[i] AS DOUBLE)))
                        * SQRT(SUM(CAST(c.ec[i] AS DOUBLE)
                                   * CAST(c.ec[i] AS DOUBLE))))
                     * 1000000 + 0.5) AS cos_key
        FROM embeddings e, cents c, {_DIMS} s
        GROUP BY e.vec_id, c.cid
    ),
    ranked AS (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos_key DESC, cid ASC) AS crn
        FROM ac
    )"""


@query(
    "sim_ivf_fixed_topk",
    oracle=f"""
    WITH {_IVF_RANKED_SQL},
    inv AS (SELECT vec_id AS neighbor_id, cid AS list_id FROM ranked
            WHERE crn = 1),
    probes AS (SELECT vec_id AS q_id, cid AS list_id FROM ranked
               WHERE crn <= {_IVF_PROBES} AND vec_id < 5),
    cand AS (
        SELECT p.q_id, i.neighbor_id
        FROM probes p
        JOIN inv i ON i.list_id = p.list_id AND i.neighbor_id <> p.q_id
    ),
    {_RERANK_SQL}
    """,
)
def sim_ivf_fixed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF 2-probe ANN with DETERMINISTIC FIXED centroids (the 16
    lowest-vec_id embeddings) — the hash-verifiable twin of
    ``sim_ivf_topk`` (r10 VERDICT #7): dropping the Lloyd iterations
    makes assignment + probe + re-rank pure relational algebra, so the
    DuckDB oracle replays the ENTIRE index build and search and the
    driver hash-proves an ANN pipeline end-to-end (candidate
    generation, list membership, exact re-rank, top-5).

    Assignment ranks centroids on the PINNED 6-decimal cosine with a
    cid tiebreak (sim_label_knn_accuracy discipline — identical argmax
    on both engines even where raw doubles differ in the last ulp);
    each vector's rn=1 centroid is its inverted list, queries probe
    their rn≤2 lists.  A neighbor lives in exactly ONE list (rn=1), so
    the probe join cannot duplicate pairs — no distinct needed.

    Scale shape: the 16-row centroid side BROADCASTS to the assignment
    scan (map-only per vector, one window shuffle on vec_id); the
    5-query probe side BROADCASTS into the inverted-list join, which
    touches only the 2 probed lists' occupancy (~2N/K candidates per
    query), never all-pairs.  The assignment diamond (inverted lists +
    probes) is persisted with rn≤2 rows only."""
    ranked = _ivf_fixed_ranked(spark, sf_dir)  # diamond: lists AND probes
    inv = ranked.filter(F.col("crn") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("e_emb"),
        F.col("nrm").alias("n_emb"),
        F.col("cid").alias("list_id"),
    )
    probes = ranked.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("eq"),
        F.col("nrm").alias("nq"),
        F.col("cid").alias("list_id"),
    )
    # norms ride the persisted routing frame (computed once per vector
    # there) instead of re-folding per candidate pair — bit-identical
    cos = _dot(F.col("eq"), F.col("e_emb")) / (F.col("nq") * F.col("n_emb"))
    scored = (
        inv.join(F.broadcast(probes), "list_id")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id", pin(cos, 10000).alias("cosine"))
    )
    return _top5(scored)


_PQ_M = 8  # subspaces (64 dims / 8)
_PQ_SUB = 8  # dims per subspace
_PQ_K = 32  # codewords per subspace
_PQ_LLOYD = 1  # codebook refinement passes (1 ≈ 2 on recall here; each pass costs an encode stage)
_PQ_SHORTLIST = 100  # ADC candidates re-ranked exactly per query
_PQ_TOPK = 5


@query("sim_pq_adc_topk", oracle=None)  # rows-only: quantized search
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN — the MEMORY-bound scale path next to
    LSH (sim_ann_lsh_topk) and IVF (sim_ivf_topk): each 64-dim float32
    vector compresses to 8 five-bit codes (~51× smaller), and search
    runs Asymmetric Distance Computation — the query builds one 8×K
    table of exact subspace distances, every database vector's
    approximate distance is then 8 integer table LOOKUPS, no float math
    per pair.  At 100 TB this is why the index fits in executor memory:
    codes ride the shuffle, never raw vectors.

    Codebooks are TRAINED in-engine: deterministic init (sub-vectors of
    the K lowest vec_ids) + bounded per-subspace Lloyd passes, all as
    DataFrame aggregations (assign via one Arrow-batched argmin pass,
    re-center via posexplode → (m,code,pos) means; empty clusters keep
    their previous codeword).  The passes run in ``core.fixpoint`` (8
    shuffle partitions, a checkpoint per pass).

    Search is the production two-stage shape: ADC SHORTLIST (top-100
    by table-lookup distance — measured quantization error on this
    weakly-clustered corpus is ~23% of the mean pair distance, so raw
    ADC@5 recall is only 20%; every true neighbor still lands in the
    ADC top-~130) followed by EXACT re-rank of the shortlist — the
    expensive float math runs on 100/500 of the collection per query
    here, and on a vanishing fraction at real scale (R stays constant
    while N grows).  Measured recall@5 after re-rank: 96% at sf0.01.

    Plan shape: encode is map-only with the codebook (a bounded trained
    artifact) captured in the Arrow-UDF closure; per-query
    distance tables broadcast; ADC distance = JVM fold over 8 array
    lookups in exact e6-pinned longs; shortlist and final top-5 via
    bounded row_numbers; only the shortlist join touches raw vectors.
    Recall vs exact L2 is floor-pinned in
    tests/test_unit_semantics.py."""
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    from engine.core import collect_model_artifact

    def _cb_array(cb_df: DataFrame) -> "np.ndarray":
        # The codebook is a TRAINED MODEL ARTIFACT — M·K = 256 rows by
        # construction.  Bounded collect + closure capture (cloudpickle
        # ships the ~16 KB array once per task); the previous
        # crossJoin(broadcast(packed)) shape duplicated it into every
        # Arrow row crossing into Python.
        rows = sorted(
            collect_model_artifact(cb_df), key=lambda r: (r["m"], r["k"])
        )
        C = np.stack([np.asarray(r["sv"], dtype=np.float64) for r in rows])
        return C.reshape(_PQ_M, _PQ_K, _PQ_SUB)

    def _encode_udf(C: "np.ndarray"):
        @F.pandas_udf("array<int>")
        def _encode(emb):
            X = np.stack(emb.to_numpy()).astype(np.float64)
            Xs = X.reshape(len(X), _PQ_M, _PQ_SUB)
            d = ((Xs[:, :, None, :] - C[None]) ** 2).sum(axis=3)  # (n,M,K)
            return pd.Series(list(d.argmin(axis=2).astype(np.int32)))

        return _encode

    def _adc_udf(C: "np.ndarray"):
        @F.pandas_udf("array<bigint>")
        def _adc_table(emb):
            X = np.stack(emb.to_numpy()).astype(np.float64)
            Xs = X.reshape(len(X), _PQ_M, _PQ_SUB)
            d = ((Xs[:, :, None, :] - C[None]) ** 2).sum(axis=3)
            # e6-pinned integer distances: the JVM-side sum of longs is
            # exact, so ranking is engine- and order-independent.
            t = (
                np.floor(d * 1_000_000 + 0.5)
                .astype(np.int64)
                .reshape(len(X), -1)
            )
            return pd.Series(list(t))

        return _adc_table

    # init: codeword (m, k) = subspace m of vector k  (k < _PQ_K)
    sub_of = lambda df: df.select(  # noqa: E731
        "vec_id", F.posexplode("embedding").alias("pos", "comp")
    ).select(
        "vec_id",
        (F.col("pos") / _PQ_SUB).cast("int").alias("m"),
        (F.col("pos") % _PQ_SUB).alias("p"),
        F.col("comp").cast("double").alias("comp"),
    )
    cb = (
        sub_of(e.filter(F.col("vec_id") < _PQ_K))
        .groupBy(F.col("m"), F.col("vec_id").alias("k"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "comp"))),
                lambda s: s["comp"],
            ).alias("sv")
        )
    )

    # the (vec, subspace, component) explosion is codebook-independent
    # — materialize once, reuse across Lloyd passes (bench clears it)
    sub_all = sub_of(e).persist()

    def lloyd(cb: DataFrame) -> DataFrame:
        coded = e.select(
            "vec_id", _encode_udf(_cb_array(cb))("embedding").alias("codes")
        )
        means = (
            sub_all
            .join(coded, "vec_id")
            .select(
                "m",
                "p",
                "comp",
                F.element_at("codes", F.col("m") + 1).alias("k"),
            )
            .groupBy("m", "k", "p")
            .agg(F.avg("comp").alias("mc"))
            .groupBy("m", "k")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "mc"))),
                    lambda s: s["mc"],
                ).alias("sv_new")
            )
        )
        # empty clusters keep their previous codeword
        return cb.join(means, ["m", "k"], "left").select(
            "m", "k", F.coalesce("sv_new", "sv").alias("sv")
        )

    cb = fixpoint(
        spark, cb, lloyd, max_iters=_PQ_LLOYD, what="PQ Lloyd passes (_PQ_LLOYD)"
    )

    Cfin = _cb_array(cb)
    coded = e.select(
        F.col("vec_id").alias("neighbor_id"),
        _encode_udf(Cfin)("embedding").alias("codes"),
    )
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        _adc_udf(Cfin)("embedding").alias("tbl"),
    )
    # approx distance = Σ_m tbl[m*K + code_m]  (8 lookups, exact longs)
    dist = F.aggregate(
        F.zip_with(
            F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
            F.col("codes"),
            lambda m, c: F.element_at(
                F.col("tbl"), (m * _PQ_K + c + 1).cast("int")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        coded.join(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id", dist.alias("adc_dist_e6"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.asc("adc_dist_e6"), F.asc("neighbor_id")
    )
    shortlist = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _PQ_SHORTLIST
    )
    # exact re-rank of the bounded shortlist (raw vectors touched here
    # and nowhere else in the search path)
    nb = e.select(F.col("vec_id").alias("neighbor_id"),
                  F.col("embedding").alias("e_nb"))
    qv = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("e_q")
    )
    diff2 = F.aggregate(
        F.zip_with(
            F.col("e_q"),
            F.col("e_nb"),
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = (
        shortlist.join(nb, "neighbor_id")
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id",
            "neighbor_id",
            "adc_dist_e6",
            pin_int(diff2, 1_000_000)
            .alias("l2_dist_e6"),
        )
    )
    w2 = Window.partitionBy("q_id").orderBy(
        F.asc("l2_dist_e6"), F.asc("neighbor_id")
    )
    return exact.withColumn("rn", F.row_number().over(w2)).filter(
        F.col("rn") <= _PQ_TOPK
    )


_PQF_Q = 1 << 20  # quantization scale (power of two: exact double mult)


@query(
    "sim_pq_fixed_adc_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_PQF_Q}) AS BIGINT))
                   AS qv
        FROM embeddings
    ),
    cb AS (SELECT vec_id AS c, qv AS cv FROM q WHERE vec_id < {_PQ_K}),
    dist AS (
        SELECT v.vec_id, mm.m, cb.c,
               SUM((v.qv[CAST(mm.m * {_PQ_SUB} + dd.d AS INTEGER) + 1]
                    - cb.cv[CAST(mm.m * {_PQ_SUB} + dd.d AS INTEGER) + 1])
                   * (v.qv[CAST(mm.m * {_PQ_SUB} + dd.d AS INTEGER) + 1]
                      - cb.cv[CAST(mm.m * {_PQ_SUB} + dd.d AS INTEGER) + 1]))
                   AS d2
        FROM q v, cb, UNNEST(range({_PQ_M})) mm(m),
             UNNEST(range({_PQ_SUB})) dd(d)
        GROUP BY 1, 2, 3
    ),
    codes AS (
        SELECT vec_id, m, c AS code
        FROM (SELECT vec_id, m, c,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                        ORDER BY d2 ASC, c ASC) AS arn
              FROM dist)
        WHERE arn = 1
    ),
    dtab AS (SELECT vec_id AS q_id, m, c, d2 FROM dist WHERE vec_id < 5),
    adc AS (
        SELECT t.q_id, cd.vec_id AS neighbor_id,
               CAST(SUM(t.d2) AS BIGINT) AS adc_dist
        FROM codes cd JOIN dtab t ON t.m = cd.m AND t.c = cd.code
        WHERE cd.vec_id <> t.q_id
        GROUP BY 1, 2
    )
    SELECT q_id, neighbor_id, adc_dist, rn
    FROM (SELECT q_id, neighbor_id, adc_dist,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY adc_dist ASC, neighbor_id ASC)
                     AS rn
          FROM adc)
    WHERE rn <= {_PQ_TOPK}
    """,
)
def sim_pq_fixed_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-VERIFIED product-quantization ADC twin — completes the set:
    all three ANN index families (LSH `sim_ann_lsh_fixed_topk`, IVF
    `sim_ivf_fixed_topk`, and now PQ) carry a driver-hashable fixed
    twin next to their rows-only trained/float variants.

    Everything is EXACT INTEGER arithmetic: embeddings quantize to
    int64 (floor(float64·2²⁰)), the codebook is FIXED (subspace slices
    of the {_PQ_K} lowest vec_ids — no Lloyd), per-subspace distances
    are int64 sums of squares (|q| < 2²¹ → Σ₈ diff² < 2⁴⁷), encode is
    argmin with a codeword-id tiebreak, and the ADC distance is a sum
    of 8 exact table lookups — so the DuckDB oracle replays index
    build, encoding, distance tables, and the final top-5 bit-for-bit,
    with no pinned-float boundary anywhere (the quantized-LSH
    discipline applied to PQ).

    This is RAW ADC top-5 — deliberately un-re-ranked so the verified
    surface is the quantized index itself (raw ADC@5 vs exact cosine
    k-NN overlaps 6/25 on this weakly-clustered corpus, in line with
    the trained sibling's measured 20% before its exact re-rank stage;
    the production two-stage shape lives in ``sim_pq_adc_topk``).

    Plan shape mirrors the trained key: the quantized codebook is a
    bounded artifact (collect_model_artifact, {_PQ_K} rows) captured in
    the encode/dtab Arrow-kernel closures; codes explode to skinny
    (vec, m, code) rows; the ADC join touches the 8·{_PQ_K}-row-per-
    query distance tables, never raw vectors; top-5 is one bounded
    row_number.  No broadcast hints (r12 audit) — the dtab side is
    5·{_PQ_M}·{_PQ_K} rows and AQE sees it."""
    import numpy as np
    import pandas as pd

    from engine.core import collect_model_artifact

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb_rows = sorted(
        collect_model_artifact(e.filter(F.col("vec_id") < _PQ_K)),
        key=lambda r: r["vec_id"],
    )
    CB = np.floor(
        np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in cb_rows])
        * _PQF_Q
    ).astype(np.int64).reshape(_PQ_K, _PQ_M, _PQ_SUB)

    def _sub_dists(emb):
        X = np.stack(emb.to_numpy()).astype(np.float64)
        Q = np.floor(X * _PQF_Q).astype(np.int64).reshape(len(X), _PQ_M, _PQ_SUB)
        diff = Q[:, :, None, :] - CB.transpose(1, 0, 2)[None]  # (n,M,K,SUB)
        return (diff * diff).sum(axis=3)  # (n, M, K) exact int64

    @F.pandas_udf("array<int>")
    def _codes(emb):
        return pd.Series(list(_sub_dists(emb).argmin(axis=2).astype(np.int32)))

    @F.pandas_udf("array<long>")
    def _dtab(emb):
        return pd.Series(list(_sub_dists(emb).reshape(len(emb), -1)))

    codes = e.select(
        "vec_id", F.posexplode(_codes("embedding")).alias("m", "code")
    )
    dtab = (
        e.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("q_id"),
            F.posexplode(_dtab("embedding")).alias("idx", "d2"),
        )
        .select(
            "q_id",
            F.expr(f"idx div {_PQ_K}").alias("m"),
            (F.col("idx") % _PQ_K).alias("code"),
            "d2",
        )
    )
    adc = (
        codes.join(dtab, ["m", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return adc.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)


# One semantic contract, two physical strategies: the blocked key is
# checked against sim_knn_topk's oracle text itself.
@query("sim_knn_topk_blocked", oracle=_ORACLES["sim_knn_topk"])
def sim_knn_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT top-k via BLOCKED matrix multiplication — the production
    exact-search physical plan, pinned to the SAME oracle (and the same
    result, row for row) as the expression-folded ``sim_knn_topk``: one
    semantic contract, two physical strategies, hash-proving the
    equivalence.

    Shape: queries (bounded by construction, 5 rows) ride the UDF
    closure; each Arrow batch of the collection computes an (n×K) score
    block with ONE numpy matmul and emits only its LOCAL top-k per
    query (≤ K·k rows per batch) — the global window then merges
    candidates, so the shuffle carries per-block winners, never scores.
    At 10⁹ vectors the crossJoin form shuffles nothing either (it is
    map-side too) but folds 64-element HOF expressions per pair in
    codegen; the blocked form amortizes to dense BLAS, the standard
    ~10-50× win for exact scoring.

    Determinism: the cosine is computed in the ORACLE'S OPERATION FORM
    — raw dot product, then one divide by sqrt(nq2)·sqrt(ne2) (never
    pre-normalized vectors, whose per-element divisions would be a
    structurally different float computation) — so the only cross-engine
    drift source left is summation order, the same last-ulp class the
    already-green crossJoin twin carries; floor(c·1e4+0.5)/1e4 pins IN
    the batch before local top-k, ties break on neighbor_id, and the
    local-k cut keeps every global candidate because k_local =
    k_global."""
    import numpy as np
    import pandas as pd

    from engine.core import collect_model_artifact

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qrows = sorted(
        collect_model_artifact(e.filter(F.col("vec_id") < 5)),
        key=lambda r: r["vec_id"],
    )
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in qrows])
    qn = np.sqrt((Q * Q).sum(axis=1))  # sqrt(nq2), oracle form
    K = 5

    def block_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            en = np.sqrt((X * X).sum(axis=1))  # sqrt(ne2)
            cos = X @ Q.T / (en[:, None] * qn[None, :])
            cos = np.floor(cos * 10000 + 0.5) / 10000  # (n, K) pinned
            out = {"q_id": [], "neighbor_id": [], "cosine": []}
            for j in range(len(q_ids)):
                mask = ids != q_ids[j]
                cj, ij = cos[mask, j], ids[mask]
                order = np.lexsort((ij, -cj))[:K]
                out["q_id"].extend([q_ids[j]] * len(order))
                out["neighbor_id"].extend(ij[order])
                out["cosine"].extend(cj[order])
            yield pd.DataFrame(out)

    return _top5(
        e.mapInPandas(block_topk, "q_id long, neighbor_id long, cosine double")
    )


_MRL_PREFIX = 16  # coarse-stage dims (Matryoshka prefix)
_MRL_SHORTLIST = 60
_MRL_PFX_SQL = "(SELECT CAST(unnest(range(1, 17)) AS INTEGER) AS i)"


@query(
    "sim_matryoshka_prefix_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS eq FROM embeddings
               WHERE vec_id < 5),
    coarse AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               SUM(CAST(q.eq[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS dot,
               SUM(CAST(q.eq[i] AS DOUBLE) * CAST(q.eq[i] AS DOUBLE)) AS nq2,
               SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS ne2
        FROM q, embeddings e, {_MRL_PFX_SQL} s
        WHERE e.vec_id <> q.q_id
        GROUP BY q.q_id, e.vec_id
    ),
    cand AS (
        SELECT q_id, neighbor_id
        FROM (SELECT q_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
                         FLOOR(dot / (SQRT(nq2) * SQRT(ne2)) * 1000000 + 0.5)
                             DESC,
                         neighbor_id ASC) AS rn
              FROM coarse)
        WHERE rn <= {_MRL_SHORTLIST}
    ),
    {_RERANK_SQL}
    """,
)
def sim_matryoshka_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA (prefix-truncation) two-stage search — the modern
    embedding-pipeline retrieval shape: score EVERY candidate on only
    the first 16 of 64 dimensions (MRL-trained embeddings front-load
    information, so the prefix preserves coarse ranking at 1/4 the
    float work and 1/4 the memory bandwidth), keep a top-60 shortlist,
    then re-rank the shortlist with full-dimension exact cosine.

    Unlike LSH/IVF/PQ (the other ANN paths here) this needs NO index
    build and no trained artifact — truncation IS the coarse quantizer
    — which is why serving stacks reach for it first.  Both stages are
    deterministic, so the whole pipeline is hash-verified against the
    SQL twin (shortlist ranking on e6-pinned prefix cosine, final on
    e4-pinned full cosine, vec_id tiebreaks).

    Scale: the coarse pass reads only the prefix slice per vector
    (columnar layout would prune the rest); the exact pass touches
    60/|collection| of the raw vectors — constant per query as the
    collection grows."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pfx = F.slice(F.col("embedding"), 1, _MRL_PREFIX)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("eq"),
        F.slice(F.col("embedding"), 1, _MRL_PREFIX).alias("eq_pfx"),
    ).withColumn("nq_pfx", _norm(F.col("eq_pfx"))).withColumn(
        "nq_full", _norm(F.col("eq"))
    )
    # prefix norms hoisted per row (collection + 5 queries), not per
    # coarse pair — bit-identical interpreted-HOF hoist
    coarse_cos = _dot(F.col("eq_pfx"), F.col("e_pfx")) / (
        F.col("nq_pfx") * F.col("n_pfx")
    )
    coarse = (
        e.select(
            F.col("vec_id").alias("neighbor_id"), pfx.alias("e_pfx")
        )
        .withColumn("n_pfx", _norm(F.col("e_pfx")))
        .crossJoin(F.broadcast(q.select("q_id", "eq_pfx", "nq_pfx")))
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select(
            "q_id",
            "neighbor_id",
            pin_int(coarse_cos, 1_000_000)
            .alias("pfx_e6"),
        )
    )
    w1 = Window.partitionBy("q_id").orderBy(
        F.desc("pfx_e6"), F.asc("neighbor_id")
    )
    short = coarse.withColumn("rn", F.row_number().over(w1)).filter(
        F.col("rn") <= _MRL_SHORTLIST
    )
    nb = e.select(F.col("vec_id").alias("neighbor_id"),
                  F.col("embedding").alias("e_full"))
    # query norm hoisted; e_full's norm stays per pair — the shortlist
    # (60/query) is far below the collection row count
    full_cos = _dot(F.col("eq"), F.col("e_full")) / (
        F.col("nq_full") * _norm(F.col("e_full"))
    )
    exact = (
        short.select("q_id", "neighbor_id")
        .join(nb, "neighbor_id")
        .join(F.broadcast(q.select("q_id", "eq", "nq_full")), "q_id")
        .select("q_id", "neighbor_id", pin(full_cos, 10000).alias("cosine"))
    )
    return _top5(exact)


_MMR_SHORTLIST = 20
_MMR_K = 5
# MMR balance λ = 0.7 expressed as exact integers: score = 7·rel − 3·red
# over basis-point similarities, so selection never hinges on float
# arithmetic (units: 1e-4 · 10).
_MMR_LAMBDA_NUM = 7
_MMR_DIV_NUM = 3


@query("sim_mmr_diversify", oracle=None)  # rows-only: iterative selection
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998)
    — the standard diversity pass a retrieval pipeline runs AFTER
    top-k: from a 20-candidate cosine shortlist per query, greedily
    pick 5 results maximizing λ·relevance − (1−λ)·max-similarity-to-
    already-picked, so near-duplicate hits don't crowd the result set.

    Determinism (why this rows-only key is still exactly reproducible):
    relevance and candidate-candidate similarity are floor-pinned to
    basis points FIRST, then the MMR objective runs in pure integers
    (7·rel_bp − 3·red_bp) with ties broken on vec_id — no float ever
    enters the argmax.  Unit tests pin the planted hand case and the
    diversity invariant.

    Scale: stage 1 is the blocked-BLAS shortlist (map-side local top-20
    per Arrow batch, window merge carries only winners — same physical
    plan as sim_knn_topk_blocked); stage 2's iterative part touches
    ONLY |queries|·20 rows via one applyInPandas over per-query groups
    — the O(k²·shortlist) greedy loop never sees the corpus.  The
    3-query probe rides the sanctioned bounded-collect helper."""
    import numpy as np
    import pandas as pd

    from engine.core import collect_model_artifact

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qrows = sorted(
        collect_model_artifact(e.filter(F.col("vec_id") < 3)),
        key=lambda r: r["vec_id"],
    )
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in qrows])
    qn = np.sqrt((Q * Q).sum(axis=1))

    def block_shortlist(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            en = np.sqrt((X * X).sum(axis=1))
            cos = X @ Q.T / (en[:, None] * qn[None, :])
            rel = np.floor(cos * 10000 + 0.5).astype(np.int64)
            out = {"q_id": [], "vec_id": [], "rel_bp": []}
            for j in range(len(q_ids)):
                order = np.lexsort((ids, -rel[:, j]))[:_MMR_SHORTLIST]
                out["q_id"].extend([q_ids[j]] * len(order))
                out["vec_id"].extend(ids[order])
                out["rel_bp"].extend(rel[order, j])
            yield pd.DataFrame(out)

    cands = e.filter(F.col("vec_id") >= 3).mapInPandas(
        block_shortlist, "q_id long, vec_id long, rel_bp long"
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("rel_bp"), F.asc("vec_id"))
    short = (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MMR_SHORTLIST)
        .select("q_id", "vec_id", "rel_bp")
    )
    withvec = e.join(F.broadcast(short), "vec_id").select(
        "q_id", "vec_id", "rel_bp", "embedding"
    )

    def mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["rel_bp", "vec_id"], ascending=[False, True])
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        rel = pdf["rel_bp"].to_numpy(dtype=np.int64)
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        n = np.sqrt((X * X).sum(axis=1))
        sim = np.floor((X @ X.T) / (n[:, None] * n[None, :]) * 10000 + 0.5
                       ).astype(np.int64)
        chosen: list[int] = []
        scores: list[int] = []
        remaining = list(range(len(ids)))
        while remaining and len(chosen) < _MMR_K:
            best_i, best_s = None, None
            for i in remaining:
                red = max((int(sim[i, c]) for c in chosen), default=0)
                s = _MMR_LAMBDA_NUM * int(rel[i]) - _MMR_DIV_NUM * red
                # equal-score ties resolve to the candidate earliest in
                # shortlist order (rel_bp desc, vec_id asc) — strict >
                # keeps the first-seen winner
                if best_s is None or s > best_s:
                    best_i, best_s = i, s
            chosen.append(best_i)
            scores.append(best_s)
            remaining.remove(best_i)
        return pd.DataFrame(
            {
                "q_id": pdf["q_id"].iloc[0],
                "rank": np.arange(1, len(chosen) + 1, dtype=np.int32),
                "vec_id": ids[chosen],
                "mmr_score": np.array(scores, dtype=np.int64),
            }
        )

    return withvec.groupBy("q_id").applyInPandas(
        mmr, "q_id long, rank int, vec_id long, mmr_score long"
    )


_MMRF_Q = 1 << 20  # quantization scale (power of two: exact double mult)
_MMRF_SHORTLIST = 12
_MMRF_K = 5


@query(
    "sim_mmr_fixed_diversify",
    oracle=f"""
    WITH RECURSIVE q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_MMRF_Q}) AS BIGINT))
                   AS qv
        FROM embeddings
    ),
    dims AS (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS i),
    rel AS (
        SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
               CAST(FLOOR(SUM(a.qv[i] * b.qv[i])
                     / (SQRT(SUM(a.qv[i] * a.qv[i]))
                        * SQRT(SUM(b.qv[i] * b.qv[i])))
                     * 10000 + 0.5) AS BIGINT) AS rel_e4
        FROM q a, q b, dims
        WHERE a.vec_id < 3 AND b.vec_id >= 3
        GROUP BY 1, 2
    ),
    shortlist AS (
        SELECT q_id, vec_id, rel_e4
        FROM (SELECT q_id, vec_id, rel_e4,
                     ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY rel_e4 DESC, vec_id ASC)
                         AS rn
              FROM rel)
        WHERE rn <= {_MMRF_SHORTLIST}
    ),
    sims AS (
        SELECT s1.q_id, s1.vec_id AS a, s2.vec_id AS b,
               CAST(FLOOR(SUM(x.qv[i] * y.qv[i])
                     / (SQRT(SUM(x.qv[i] * x.qv[i]))
                        * SQRT(SUM(y.qv[i] * y.qv[i])))
                     * 10000 + 0.5) AS BIGINT) AS sim_e4
        FROM shortlist s1
        JOIN shortlist s2 ON s1.q_id = s2.q_id AND s1.vec_id <> s2.vec_id
        JOIN q x ON x.vec_id = s1.vec_id
        JOIN q y ON y.vec_id = s2.vec_id,
        dims
        GROUP BY 1, 2, 3
    ),
    rec AS (
        SELECT q_id, CAST(0 AS BIGINT) AS rank, CAST(NULL AS BIGINT) AS vec_id,
               CAST(NULL AS BIGINT) AS mmr_score,
               CAST([] AS BIGINT[]) AS chosen
        FROM (SELECT DISTINCT q_id FROM shortlist)
      UNION ALL
        SELECT r.q_id, r.rank + 1, pick.vec_id, pick.score,
               list_append(r.chosen, pick.vec_id)
        FROM rec r,
        LATERAL (
            SELECT s.vec_id,
                   7 * s.rel_e4 - 3 * COALESCE(
                       (SELECT MAX(p.sim_e4) FROM sims p
                        WHERE p.q_id = r.q_id AND p.a = s.vec_id
                          AND list_contains(r.chosen, p.b)), 0) AS score,
                   s.rel_e4
            FROM shortlist s
            WHERE s.q_id = r.q_id AND NOT list_contains(r.chosen, s.vec_id)
            ORDER BY score DESC, s.rel_e4 DESC, s.vec_id ASC
            LIMIT 1
        ) pick
        WHERE r.rank < {_MMRF_K}
    )
    SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id, mmr_score
    FROM rec WHERE rank > 0
    """,
)
def sim_mmr_fixed_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-VERIFIED MMR twin — maximal-marginal-relevance re-ranking
    (Carbonell & Goldstein 1998: pick argmax λ·rel − (1−λ)·max-sim-to-
    chosen, k times) with every number CROSS-ENGINE DETERMINISTIC, so
    the greedy loop itself is driver-hash-proven: relevance and
    pairwise similarity are pinned 4-decimal cosines over QUANTIZED
    int64 embeddings (exact dots; sqrt/division/floor identical IEEE
    on identical integer operands), the MMR score is pure integer
    arithmetic (7·rel − 3·maxsim), and the DuckDB oracle replays the
    greedy selection as a recursive CTE carrying the chosen-set LIST
    as state with a correlated argmax LATERAL per step — the
    pack_bin_firstfit recursive-state precedent applied to a
    selection loop.

    Scale shape mirrors the rows-only trained sibling
    (``sim_mmr_diversify``): relevance is relational (3 bounded query
    rows cross the candidate scan once), the shortlist is a bounded
    per-query row_number, and the greedy runs in a grouped Arrow
    kernel over shortlist-sized groups (12 rows each, 3 groups —
    bounded by construction, never per-entity).  The kernel recomputes
    sims from the quantized vectors with the exact SQL op sequence
    (int64 dot → sqrt → divide → ·1e4 → +0.5 → floor)."""
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * _MMRF_Q).cast("long"),
    )
    quant = e.select("vec_id", qv.alias("qv"))
    idot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qs = quant.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("q_qv")
    )
    cands = quant.filter(F.col("vec_id") >= 3)
    rel_e4 = pin_int(
        idot(F.col("q_qv"), F.col("qv")).cast("double")
        / (
            F.sqrt(idot(F.col("q_qv"), F.col("q_qv")).cast("double"))
            * F.sqrt(idot(F.col("qv"), F.col("qv")).cast("double"))
        ),
        10000,
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("rel_e4"), F.asc("vec_id"))
    short = (
        cands.crossJoin(qs)
        .select("q_id", "vec_id", "qv", rel_e4.alias("rel_e4"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MMRF_SHORTLIST)
        .select("q_id", "vec_id", "rel_e4", "qv")
    )

    def mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        rel = pdf["rel_e4"].to_numpy(dtype=np.int64)
        X = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
        dots = X @ X.T  # exact int64 (|q| < 2^21, 64 dims -> < 2^47)
        n = np.sqrt(np.diag(dots).astype(np.float64))
        sim = np.floor(
            dots.astype(np.float64) / (n[:, None] * n[None, :]) * 10000 + 0.5
        ).astype(np.int64)
        chosen: list[int] = []
        out_ids, out_scores = [], []
        remaining = list(range(len(ids)))
        while remaining and len(chosen) < _MMRF_K:
            best_i, best_key = None, None
            for i in remaining:
                red = max((int(sim[i, c]) for c in chosen), default=0)
                s = 7 * int(rel[i]) - 3 * red
                key = (s, int(rel[i]), -int(ids[i]))  # score, rel desc, id asc
                if best_key is None or key > best_key:
                    best_i, best_key = i, key
            chosen.append(best_i)
            out_ids.append(int(ids[best_i]))
            out_scores.append(int(best_key[0]))
            remaining.remove(best_i)
        return pd.DataFrame(
            {
                "q_id": pdf["q_id"].iloc[0],
                "rank": np.arange(1, len(chosen) + 1, dtype=np.int32),
                "vec_id": np.array(out_ids, dtype=np.int64),
                "mmr_score": np.array(out_scores, dtype=np.int64),
            }
        )

    return short.groupBy("q_id").applyInPandas(
        mmr, "q_id long, rank int, vec_id long, mmr_score long"
    )


_TRI_BLOCK = 250     # raw-id block width for pair generation (50 nodes)
_TRI_THR_BP = 2000   # edge threshold: pinned cosine >= 0.20

# Shared oracle CTE body for the block-local pinned-cosine graph
# (graph_triangle_count + graph_pagerank_bounded build on it).
_GRAPH_EDGES_SQL = f"""
    nodes AS (
        SELECT vec_id, embedding, vec_id // {_TRI_BLOCK} AS blk
        FROM embeddings WHERE vec_id % 5 = 0
    ),
    pairs AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dot,
               SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)) AS na2,
               SUM(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS nb2
        FROM nodes a JOIN nodes b ON a.blk = b.blk AND a.vec_id < b.vec_id,
             {_DIMS} s
        GROUP BY a.vec_id, b.vec_id
    ),
    edges AS (
        SELECT src, dst FROM pairs
        WHERE FLOOR(dot / (SQRT(na2) * SQRT(nb2)) * 10000 + 0.5) >= {_TRI_THR_BP}
    )
"""


def _cos_block_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-local pinned-cosine edge list (src < dst), persisted.

    Norms are per-NODE quantities: fold them once (|V| HOF
    evaluations), never inside the pair filter (3 folds per pair — 3×
    the interpreted-HOF work on the quadratic term).  The oracle twin
    (_GRAPH_EDGES_SQL) divides by SQRT(na2)·SQRT(nb2) computed per
    pair, but the VALUE is identical: same elements, same fold order
    per vector.  repartition(blk) spreads block-local scoring across
    tasks (the subset otherwise arrives as one parquet split and the
    whole quadratic stage runs single-threaded).  Persisted because
    every consumer (degree rollup, orientation, closure, PageRank's
    3 unrolled iterations) would otherwise re-derive the scoring
    subtree — measured 8.2 s → 1.3 s at sf0.1."""
    e = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 5 == 0)
        .select(
            "vec_id",
            "embedding",
            F.expr(f"vec_id div {_TRI_BLOCK}").alias("blk"),
            _norm(F.col("embedding")).alias("nrm"),
        )
    )
    a = e.repartition(F.col("blk")).select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("ea"),
        "blk",
        F.col("nrm").alias("nrm_a"),
    )
    b = e.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("eb"),
        F.col("blk").alias("blk_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos_bp = pin_int(
        _dot(F.col("ea"), F.col("eb")) / (F.col("nrm_a") * F.col("nrm_b")), 10000
    )
    return (
        a.join(b, (a.blk == b.blk_b) & (a.src < b.dst))
        .filter(cos_bp >= _TRI_THR_BP)
        .select("src", "dst")
        .persist()
    )


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH {_GRAPH_EDGES_SQL},
    tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM edges e1
        JOIN edges e2 ON e2.src = e1.dst
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    corners AS (
        SELECT a AS node_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT node_id, CAST(COUNT(*) AS BIGINT) AS n_tri
    FROM corners GROUP BY node_id
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over a similarity graph — the classic
    distributed graph-analytics kernel (clustering coefficient, spam/
    community detection), MapReduce-style per Suri & Vassilvitskii
    "Counting Triangles and the Curse of the Last Reducer" (WWW'11).

    Input graph: block-local pinned-cosine edges over every 5th
    embedding (equi-keyed on the id block — the banded all-pairs
    discipline of dedup_embedding_cosine; never an unbounded cross
    join).  The operator under test is the COUNTING join strategy:
    edges are ORIENTED along the total order (degree, id) — each
    triangle then has exactly ONE low-order apex holding both out-
    edges, so one wedge self-join (apex, lo→hi by the same order) plus
    one closure probe against the oriented edge list counts every
    triangle exactly once, no post-hoc ÷3 or ÷6.  Degree-ordering is
    the last-reducer fix: a hub of degree d contributes wedges only
    for its HIGHER-ordered neighbors, bounding per-node wedge fanout
    by arboricity instead of d².

    The oracle counts the same triangles with plain id-ordered
    3-way joins — orientation must be result-invisible (the triangle
    SET is orientation-independent); hash-matching per-node counts
    proves it.

    Scale: wedge and closure joins are equi hash joins on (apex) and
    (v, w); the only quadratic work is block-local pair scoring
    (bounded 50-node blocks).  At 100 TB the edge list would come from
    the LSH/MinHash candidate stages instead — the counting plan is
    unchanged."""
    edges = _cos_block_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ed = (
        edges.join(
            F.broadcast(deg.select(F.col("node").alias("src"), F.col("deg").alias("deg_s"))),
            "src",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("dst"), F.col("deg").alias("deg_d"))),
            "dst",
        )
    )
    lo_first = F.struct(F.col("deg_s").alias("d"), F.col("src").alias("n")) < F.struct(
        F.col("deg_d").alias("d"), F.col("dst").alias("n")
    )
    directed = ed.select(
        F.when(lo_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(lo_first, F.col("dst")).otherwise(F.col("src")).alias("v"),
        F.when(
            lo_first,
            F.struct(F.col("deg_d").alias("d"), F.col("dst").alias("n")),
        )
        .otherwise(F.struct(F.col("deg_s").alias("d"), F.col("src").alias("n")))
        .alias("ord_v"),
    ).persist()  # consumed by d1, d2 and the closure probe
    d1 = directed.alias("d1")
    d2 = directed.alias("d2")
    wedges = d1.join(
        d2,
        (F.col("d1.u") == F.col("d2.u")) & (F.col("d1.ord_v") < F.col("d2.ord_v")),
    ).select(
        F.col("d1.u").alias("a"),
        F.col("d1.v").alias("b"),
        F.col("d2.v").alias("c"),
    )
    closure = directed.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tri = wedges.join(closure, ["b", "c"])
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count("*").alias("n_tri"))
    )


_PR_M = 1_000_000  # rank unit: parts-per-million of total rank mass
_PR_ITERS = 3
_PR_DAMP_NUM = 85  # damping 0.85 as an exact integer ratio


def _pr_oracle() -> str:
    """PageRank oracle with the iteration CTEs UNROLLED FROM _PR_ITERS —
    the Spark side loops over the same constant, so bumping it can
    never desync engine from oracle (a hand-written it1/it2/it3 chain
    would silently keep computing 3 iterations)."""
    its = []
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        its.append(f"""
    it{i} AS (
        SELECT und.v AS node,
               CAST((SELECT b FROM base)
                    + ({_PR_DAMP_NUM} * SUM({prev}.r // deg.d)) // 100 AS BIGINT) AS r
        FROM und JOIN {prev} ON {prev}.node = und.u JOIN deg ON deg.node = und.u
        GROUP BY und.v
    )""")
        prev = f"it{i}"
    return f"""
    WITH {_GRAPH_EDGES_SQL},
    und AS (
        SELECT src AS u, dst AS v FROM edges
        UNION ALL
        SELECT dst AS u, src AS v FROM edges
    ),
    deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY u),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
    base AS (SELECT CAST((15 * {_PR_M}) // (100 * n) AS BIGINT) AS b FROM nn),
    r0 AS (SELECT node, CAST({_PR_M} // nn.n AS BIGINT) AS r FROM deg, nn),
    {",".join(its)}
    SELECT node, r AS rank_ppm FROM {prev}
    """


@query("graph_pagerank_bounded", oracle=_pr_oracle())
def graph_pagerank_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 3 bounded iterations over the block-cosine graph —
    the canonical iterative-dataflow kernel (Page et al. 1999;
    Pregel/GraphX's hello-world), expressed as an UNROLLED declarative
    plan: each iteration is contribution-join → per-target SUM, so
    Catalyst sees one DAG and AQE sizes every stage; no driver loop,
    no mutable state.

    Exactness — the reason this iterative float algorithm can be
    hash-compared at all: ranks live in integer parts-per-million and
    EVERY division is integer floor division (contribution = r div
    deg; damping = (85·S) div 100; teleport base = 15M div (100·N)).
    Identical values on both engines by construction, not by float
    luck.  Rank mass leaks a few ppm per iteration to the floors —
    irrelevant for ranking, the point of the pin.

    Scale: the per-iteration shuffle pair (join on u, aggregate on v)
    is the standard distributed PageRank step; `links` (adjacency ⋈
    out-degree) persists once and is re-read by all three iterations
    — exactly the RDD-era `links.cache()` idiom, DataFrame-native.
    Bounded iterations = bounded plan depth; a convergence-driven
    variant would run this step in ``core.fixpoint`` (a checkpoint per
    round, loud non-convergence)."""
    edges = _cos_block_edges(spark, sf_dir)
    und = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionAll(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    links = und.join(deg, "u").persist()  # (u, v, d) re-read 3x
    nn = deg.agg(F.count("*").alias("n"))
    rank = deg.select(F.col("u").alias("node")).crossJoin(
        F.broadcast(nn)
    ).select("node", F.expr(f"{_PR_M} div n").alias("r"))
    for _ in range(_PR_ITERS):
        contrib = links.join(
            rank, links.u == rank.node
        ).select("v", F.expr("r div d").alias("c"))
        s = contrib.groupBy("v").agg(F.sum("c").alias("s"))
        rank = s.crossJoin(F.broadcast(nn)).select(
            F.col("v").alias("node"),
            (
                F.expr(f"(15 * {_PR_M}) div (100 * n)")
                + F.expr(f"({_PR_DAMP_NUM} * s) div 100")
            ).cast("long").alias("r"),
        )
    return rank.select("node", F.col("r").alias("rank_ppm"))


_REACH_MAX_ITERS = 8  # pointer doubling: covers depth 2^8 = 256


@query(
    "graph_reachability_roots",
    oracle="""
    WITH RECURSIVE walk AS (
        SELECT doc_id, doc_id AS node, 0 AS depth
        FROM documents
      UNION ALL
        SELECT doc_id, (node - 5) // 3 AS node, depth + 1
        FROM walk
        WHERE node >= 5
    )
    SELECT doc_id,
           CAST(node AS BIGINT)  AS root_id,
           CAST(depth AS BIGINT) AS depth
    FROM walk
    WHERE node < 5
    """,
)
def graph_reachability_roots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded transitive closure over a forest — the log-depth
    alternative to ``WITH RECURSIVE`` (which Spark 4 now ships; see the
    hash-equal twin ``graph_recursive_cte_native``): every document resolves
    its ROOT ancestor and exact depth in a deterministic ternary forest
    (roots 0-4; parent(d) = (d-5) div 3 — a pure function of the key,
    so the hierarchy is reproducible on both engines and at any sf).

    Algorithm: POINTER DOUBLING, not one-hop walking — each round
    composes the ancestor map with itself (state ⋈ state on ptr = node,
    distances add; roots self-loop with distance 0), so round k covers
    depth 2^k and a depth-d chain resolves in ⌈log₂ d⌉ rounds where the
    naive recursive walk (the oracle's WITH RECURSIVE twin) takes d
    dependent scans.  That log-vs-linear gap is the whole point at
    100 TB: a billion-node hierarchy of depth ~40 is 6 self-joins.
    Convergence: ptr is monotone non-increasing (parents have strictly
    smaller ids), so equal consecutive ptr-sums ⇔ every pointer reached
    its root — the same tiny-aggregate probe as the CC kernel
    (dedup_connected_components), in the same harness: the rounds run
    in ``core.fixpoint`` (a checkpoint per round, loud failure at the
    cap).

    Output: (doc_id, root_id, depth) — one row per document, exact, so
    the recursive-CTE oracle hash-proves the unrolled plan."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    # The pointer-doubling join (state ⋈ state on ptr = node) requires
    # every ancestor id to EXIST as a node row; the recursive-CTE
    # oracle just applies the parent formula and never checks.  With
    # contiguous ids 0..N-1 every parent (strictly smaller id) exists;
    # a gap or nonzero start would make the inner join silently drop
    # whole subtrees — fail loudly instead (r6 ADVICE).  The guard is
    # an eager agg + driver job (exempt from the no-collect rule as an
    # input-validation probe, like collect_model_artifact), so it is
    # MEMOIZED per corpus state (r7 ADVICE: it was re-scanning documents
    # on every invocation, inflating bench), versioned on the corpus
    # fingerprint: a regenerated corpus is probed again.
    def probe():
        lo, hi, n = d.agg(
            F.min("doc_id"), F.max("doc_id"), F.count("*")
        ).first()
        if lo != 0 or hi != n - 1:
            raise RuntimeError(
                "graph_reachability_roots requires contiguous doc_ids "
                f"0..N-1 (got min={lo}, max={hi}, n={n}); with gaps the "
                "ancestor join drops subtrees — synthesize the ancestor "
                "closure before re-enabling"
            )
        return True, []

    session_memo(
        spark, "reach_contiguous", sf_dir, probe, version=fingerprint(sf_dir)
    )
    state = d.select(
        F.col("doc_id").alias("node"),
        F.when(
            F.col("doc_id") >= 5, F.expr("(doc_id - 5) div 3")
        )
        .otherwise(F.col("doc_id"))
        .cast("long")
        .alias("ptr"),
        F.when(F.col("doc_id") >= 5, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dist"),
    )

    def double(state: DataFrame) -> DataFrame:
        p = state.select(
            F.col("node").alias("p_node"),
            F.col("ptr").alias("p_ptr"),
            F.col("dist").alias("p_dist"),
        )
        return state.join(p, state.ptr == p.p_node).select(
            "node",
            F.col("p_ptr").alias("ptr"),
            (F.col("dist") + F.col("p_dist")).alias("dist"),
        )

    state = fixpoint(
        spark, state, double,
        max_iters=_REACH_MAX_ITERS,
        probe=lambda state: state.agg(F.sum("ptr")).first()[0],
        probe_from=1,
        what="reachability pointer doubling (_REACH_MAX_ITERS, "
        f"depth cap {2 ** _REACH_MAX_ITERS})",
    )
    return state.select(
        F.col("node").alias("doc_id"),
        F.col("ptr").alias("root_id"),
        F.col("dist").alias("depth"),
    )


@query(
    "sim_random_projection_jl",
    oracle="""
    SELECT vec_id,
           CAST(t.k AS BIGINT) AS k,
           CAST(FLOOR(list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 65),
                       i -> (1 - 2 * ((t.k * 2654435761 + i * 97003999)
                                      % 1000003 % 2))
                            * CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE))),
               (a, b) -> a + b) * 1000000 + 0.5) AS BIGINT) AS y_e6
    FROM embeddings, range(16) t(k)
    WHERE vec_id % 10 = 0
    """,
)
def sim_random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOHNSON-LINDENSTRAUSS random projection (Achlioptas ±1 form):
    64-dim embeddings sketched to K = 16 dims with a DETERMINISTIC sign
    matrix s(k,i) = ±1 derived from the repo's multiplicative hash — the
    embedding-compression primitive (JL lemma: pairwise distances
    survive to 1±ε at K = O(log n / ε²)) that runs BEFORE the ANN index
    at 100 TB to cut vector bytes 4× with no training step and no model
    artifact to ship: the projection matrix is a FORMULA, so every
    executor regenerates it from (k, i) — nothing is broadcast.

    Exactness: sign from integer hash parity; each output component is
    a 64-term float64 sum in INDEX ORDER on both engines (float32
    widens exactly; same addends, same order ⇒ bit-identical IEEE),
    pinned e6.  Long-form output (vec_id, k, y_e6), bounded with the
    vec_id % 10 residue mirrored in the oracle.

    Scale: pure map-side — zero shuffles; 16×64 fused multiply-adds
    per row inside JVM higher-order functions."""
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    ks = e.select(
        "vec_id",
        "embedding",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("k"),
    )
    y = F.aggregate(
        F.sequence(F.lit(1), F.lit(64)),
        F.lit(0.0),
        lambda acc, i: acc
        + (
            1
            - 2
            * (
                (
                    F.col("k").cast("long") * F.lit(2654435761)
                    + i.cast("long") * F.lit(97003999)
                )
                % 1000003
                % 2
            )
        ).cast("double")
        * F.element_at(F.col("embedding"), i).cast("double"),
    )
    return ks.select(
        "vec_id",
        F.col("k").cast("long").alias("k"),
        pin_int(y, 1000000).alias("y_e6"),
    )


@query(
    "graph_recursive_cte_native",
    oracle="""
    WITH RECURSIVE walk AS (
        SELECT doc_id, doc_id AS node, 0 AS depth
        FROM documents
      UNION ALL
        SELECT doc_id, (node - 5) // 3 AS node, depth + 1
        FROM walk
        WHERE node >= 5
    )
    SELECT doc_id,
           CAST(node AS BIGINT)  AS root_id,
           CAST(depth AS BIGINT) AS depth
    FROM walk
    WHERE node < 5
    """,
)
def graph_recursive_cte_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE ``WITH RECURSIVE`` — new in Spark 4 — resolving the same
    ternary-forest root/depth as ``graph_reachability_roots``, as one
    declarative SQL statement instead of the driver-orchestrated
    pointer-doubling loop.  Both engines run the textually-identical
    recursive CTE (modulo `//` vs `div`), so the hash match pins
    Spark's brand-new recursion implementation against DuckDB's mature
    one — and transitively against the pointer-doubling plan, since
    that key shares this oracle.

    When to use which at 100 TB: the native CTE iterates ONE HOP per
    level (depth-linear — each level is a self-join scheduled by the
    engine, bounded by spark.sql.cteRecursionLevelLimit, default 100),
    which is simplest and fine for shallow hierarchies (org charts,
    category trees, depth ≤ ~20).  The pointer-doubling twin converges
    in ⌈log₂ depth⌉ joins with explicit lineage checkpointing — the
    right tool when depth is large or unknown.  Keeping both shapes
    hash-equal is exactly the point of the twin keys."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    d.createOrReplaceTempView("rcte_documents")
    return spark.sql(
        """
        WITH RECURSIVE walk AS (
            SELECT doc_id, doc_id AS node, 0 AS depth
            FROM rcte_documents
          UNION ALL
            SELECT doc_id, (node - 5) div 3 AS node, depth + 1
            FROM walk
            WHERE node >= 5
        )
        SELECT doc_id,
               CAST(node AS BIGINT)  AS root_id,
               CAST(depth AS BIGINT) AS depth
        FROM walk
        WHERE node < 5
        """
    )


@query(
    "graph_bfs_min_hops",
    oracle="""
    WITH RECURSIVE fp AS (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem WHERE l_partkey % 4 = 0
    ),
    e AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM fp a JOIN fp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    bfs(node, hop) AS (
        SELECT (SELECT MIN(src) FROM e), 0
        UNION ALL
        SELECT e.dst, bfs.hop + 1
        FROM bfs JOIN e ON e.src = bfs.node
        WHERE bfs.hop < 3
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(MIN(hop) AS BIGINT) AS hop
    FROM bfs GROUP BY node
    """,
)
def graph_bfs_min_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BREADTH-FIRST SEARCH minimum hop distance on a CYCLIC graph —
    the general-graph traversal the forest-shaped
    `graph_reachability_roots` / `graph_recursive_cte_native` pair
    can't express (their pointer-jumping assumes one parent per node).
    Graph: co-purchase edges between residue-sampled parts sharing an
    order (undirected by construction — both directions emitted);
    source = the minimum part key; 3 BFS rounds label every node with
    its first-reached depth.

    The Spark loop is FRONTIER-DEDUPLICATED (each round: frontier ⨝
    edges → DISTINCT next frontier), so per-round work is bounded by
    |V|·avg-degree regardless of path multiplicity; the DuckDB twin is
    the recursive-CTE PATH ENUMERATION with the same hop cap, and
    GROUP BY MIN(hop) collapses both to the identical labeling — the
    hash match proves frontier-BFS ≡ path-semantics BFS.  Revisited
    nodes (cycles!) are handled by the final min-hop rollup, not by
    mutable visited-set state.

    Scale: k rounds = k frontier-sized shuffles — the EDGE LIST
    shuffles exactly once.  Exchange budget (subset-partitioning rule):
    ``repartition(l_orderkey)`` feeds the pair dedup (clustering on
    (okey, pkey) is satisfied by hashing okey alone) AND both sides of
    the self-join, so build #1 is one exchange; ``repartition(src)``
    likewise covers the edge dedup and every round's ``frontier ⨝
    edges`` probe, so only the tiny frontier moves per round.  The
    whole loop runs under 8 shuffle partitions (``scoped_sql_conf``) with
    each round forced inside the scope (the rounds carry ≤ |V| rows; 32
    tasks per reduce stage was pure scheduling overhead — measured
    7.7 s → ~2 s cold at sf0.1).  Path enumeration in the oracle is
    exponential in k and exists only as the sf0.01 proof.  For
    unbounded-depth reachability the star-contraction CC key is the
    O(log d) answer."""
    from engine.core import scoped_sql_conf

    with scoped_sql_conf(spark, {"spark.sql.shuffle.partitions": 8}):
        li = (
            load(spark, sf_dir, "lineitem")
            .filter(F.col("l_partkey") % 4 == 0)
            .select("l_orderkey", "l_partkey")
            .repartition("l_orderkey")
            .dropDuplicates()
        )
        a = li.alias("a")
        b = li.alias("b")
        edges = (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") != F.col("b.l_partkey")),
            )
            .select(
                F.col("a.l_partkey").alias("src"),
                F.col("b.l_partkey").alias("dst"),
            )
            .repartition("src")
            .dropDuplicates()
            .persist()
        )
        edges.count()  # materialize the hash(src) layout inside the scope
        frontier = edges.agg(F.min("src").alias("node"))
        visited = [
            frontier.select("node", F.lit(0).cast("long").alias("hop"))
        ]
        cached_frontiers: list[DataFrame] = []
        for h in (1, 2, 3):
            frontier = (
                frontier.join(edges, frontier["node"] == edges["src"])
                .select(F.col("dst").alias("node"))
                .distinct()
                .persist()
            )
            frontier.count()  # force this round's shuffle at 8 partitions
            cached_frontiers.append(frontier)
            visited.append(
                frontier.select("node", F.lit(h).cast("long").alias("hop"))
            )
        out = visited[0]
        for v in visited[1:]:
            out = out.unionAll(v)
        result = out.groupBy("node").agg(F.min("hop").alias("hop")).persist()
        result.count()
        # Release the loop's executor-memory holds now that the rollup
        # is materialized: every round's frontier and the edge list are
        # superseded (at 100 TB those are real storage-pool residents).
        # The result itself stays cached for the caller.
        for f in cached_frontiers:
            f.unpersist()
        edges.unpersist()
    return result


@query(
    "sim_ndcg_eval",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding AS eq, label AS q_label
        FROM embeddings WHERE vec_id < 5
    ),
    cand AS (
        SELECT vec_id AS c_id, embedding AS ec, label AS c_label
        FROM embeddings WHERE vec_id >= 5
    ),
    scored AS (
        SELECT q.q_id, q.q_label, c.c_id, c.c_label,
               FLOOR(SUM(CAST(q.eq[i] AS DOUBLE) * CAST(c.ec[i] AS DOUBLE))
                     / (SQRT(SUM(CAST(q.eq[i] AS DOUBLE) * CAST(q.eq[i] AS DOUBLE)))
                        * SQRT(SUM(CAST(c.ec[i] AS DOUBLE) * CAST(c.ec[i] AS DOUBLE))))
                     * 1000000 + 0.5) AS cos_key
        FROM q, cand c, {{dims}} s
        GROUP BY q.q_id, q.q_label, c.c_id, c.c_label
    ),
    ranked AS (
        SELECT q_id, q_label, c_label,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos_key DESC, c_id ASC) AS rn
        FROM scored
    ),
    perq AS (
        SELECT q_id, q_label,
               CAST(SUM(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rel_top10,
               CAST(SUM(CASE WHEN c_label = q_label
                             THEN 1000000 // (rn + 1) ELSE 0 END) AS BIGINT) AS dcg
        FROM ranked WHERE rn <= 10
        GROUP BY q_id, q_label
    ),
    rel_total AS (
        SELECT q.q_id, CAST(COUNT(*) AS BIGINT) AS n_rel
        FROM q JOIN cand c ON c.c_label = q.q_label
        GROUP BY q.q_id
    ),
    ideal AS (
        SELECT rt.q_id,
               CAST(SUM(1000000 // (r.r + 1)) AS BIGINT) AS idcg
        FROM rel_total rt JOIN range(1, 11) r(r)
          ON r.r <= LEAST(rt.n_rel, 10)
        GROUP BY rt.q_id
    )
    SELECT p.q_id AS query_id,
           CAST(p.q_label AS INTEGER) AS query_label,
           p.n_rel_top10,
           p.dcg,
           i.idcg,
           p.dcg / i.idcg AS ndcg
    FROM perq p JOIN ideal i ON i.q_id = p.q_id
    """.replace("{dims}", _DIMS),
)
def sim_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation — NDCG@10 of cosine retrieval
    against label relevance, the metric a training-data pipeline runs
    after every embedding/index change to catch silent recall drift.

    Rank gains use INTEGER harmonic weights ``1000000 div (rank+1)``
    instead of the classical ``1/log2(rank+1)``: log2 is a libm call
    with no cross-engine bit guarantee, while integer division is exact
    on both engines (`div` and `//` both truncate — the measured r7
    semantics), so DCG/IDCG are exact BIGINTs and the final ratio is
    one deterministic BIGINT/BIGINT division (→ DOUBLE on both).  The
    neighbor order rides the pinned 6-decimal cosine + c_id tiebreak.

    Scale: queries broadcast (bounded eval set), candidates never
    self-join — one scan scores q×cand, one window ranks per query.
    At 100 TB the candidate side is the LSH/IVF shortlist
    (sim_ann_lsh_topk / sim_ivf_topk), and this key is the judge that
    scores those shortlists against the exact baseline."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("eq"),
        F.col("label").alias("q_label"),
        _norm(F.col("embedding")).alias("nq"),
    )
    cand = e.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("ec"),
        F.col("label").alias("c_label"),
        _norm(F.col("embedding")).alias("nc"),
    )
    # norms per row, not per (candidate, query) pair — bit-identical
    cos_key = pin_int(
        _dot(F.col("eq"), F.col("ec")) / (F.col("nq") * F.col("nc")), 1000000
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_key"), F.asc("c_id")
    )
    gain = F.when(
        F.col("c_label") == F.col("q_label"),
        F.expr("1000000 div (rn + 1)").cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    perq = (
        cand.crossJoin(F.broadcast(q))
        .select("query_id", "q_label", "c_id", "c_label",
                cos_key.alias("cos_key"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .withColumn("gain", gain)
        .groupBy("query_id", "q_label")
        .agg(
            F.sum(
                F.when(F.col("c_label") == F.col("q_label"), 1).otherwise(0)
            ).cast("long").alias("n_rel_top10"),
            F.sum("gain").cast("long").alias("dcg"),
        )
    )
    rel_total = (
        cand.join(F.broadcast(q.select("query_id", "q_label")),
                  F.col("c_label") == F.col("q_label"))
        .groupBy("query_id")
        .agg(F.count("*").alias("n_rel"))
    )
    ideal = rel_total.select(
        "query_id",
        F.expr(
            "aggregate(sequence(1, CAST(LEAST(n_rel, 10) AS INT)), 0L,"
            " (acc, r) -> acc + (1000000L div (CAST(r AS LONG) + 1)))"
        ).alias("idcg"),
    )
    return perq.join(F.broadcast(ideal), "query_id").select(
        "query_id",
        F.col("q_label").cast("int").alias("query_label"),
        "n_rel_top10",
        "dcg",
        "idcg",
        (F.col("dcg") / F.col("idcg")).alias("ndcg"),
    )


# -- k-means to CONVERGENCE (r13; completes the clustering story the
#    fixed-iteration IVF key opened) ---------------------------------------
#
# Integer-pinned Lloyd: embeddings quantize to int64 at a power-of-two
# scale (floor(float64(x) * 2^12) — exact in Spark, numpy, and DuckDB
# by IEEE widening, the r12 quantization-exactness pattern), distances
# are exact int64 sums (|q| <= 2^12 ⇒ d2 <= 64 * 2^26 < 2^33), and the
# centroid update is integer division truncating toward zero on every
# engine (DuckDB `//`, numpy sign-split abs-floordiv).  Every Lloyd
# step is therefore BIT-IDENTICAL across engines, which is what lets a
# convergence LOOP carry a full hash oracle: the oracle unrolls
# _KM_UNROLL iterations as CTEs, and because a converged Lloyd step is
# the IDENTITY (stable assignment ⇒ unchanged centroids ⇒ stable
# assignment), any convergence round r <= _KM_UNROLL yields c_UNROLL
# == c_r exactly.  The Spark side runs to detected convergence and
# RAISES LOUDLY if round _KM_UNROLL arrives without stability — a
# wrong answer is impossible, only a loud one (CC-cap policy,
# engine/dedup.py).  Measured convergence on this corpus: round 11 at
# sf0.01 AND sf0.1 (coreset caps the training set, so the round count
# is scale-stable); 24 is a 2x margin.
_KM_K = 8          # clusters
_KM_CORE = 512     # fixed-size training coreset (scale-independent)
_KM_SCALE = 4096   # 2^12 quantization (power of two — exact products)
_KM_UNROLL = 24    # oracle unroll depth == Spark loud convergence cap
_KM_P = 2**31 - 1
_KM_A = 1103515245 % _KM_P  # classic LCG multiplier (public constant)
_KM_B = 12345


def _km_oracle() -> str:
    """Unrolled-Lloyd DuckDB twin (every CTE MATERIALIZED — DuckDB
    inlines single-use CTEs and a 48-level inlined chain explodes
    planning >240 s at sf0.01 vs 0.75 s materialized): q (quantized
    vectors) → core
    (hash-rank coreset) → c0 (K lowest vec_id) → a1/c1 … a24/c24 →
    full-corpus nearest-centroid assignment against c24."""
    parts = [
        (
            "q AS MATERIALIZED (SELECT vec_id, list_transform(embedding, "
            f"x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT))"
            " AS qv FROM embeddings)"
        ),
        (
            "core AS MATERIALIZED (SELECT vec_id, qv FROM q "
            f"ORDER BY ((vec_id % {_KM_P}) * {_KM_A} + {_KM_B}) % {_KM_P},"
            f" vec_id LIMIT {_KM_CORE})"
        ),
        (
            f"c0 AS MATERIALIZED (SELECT vec_id AS cid, qv AS cv FROM core "
            f"ORDER BY vec_id LIMIT {_KM_K})"
        ),
    ]
    for n in range(1, _KM_UNROLL + 1):
        parts.append(f"""a{n} AS MATERIALIZED (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM (
                SELECT core.vec_id, c.cid,
                       SUM((core.qv[s.i] - c.cv[s.i])
                           * (core.qv[s.i] - c.cv[s.i])) AS d2
                FROM core, c{n - 1} c, {_DIMS} s
                GROUP BY core.vec_id, c.cid
            )
        ) WHERE rn = 1
    )""")
        # dropped clusters stay dropped: the GROUP BY only emits
        # centroids with members, exactly like the numpy loop
        parts.append(f"""c{n} AS MATERIALIZED (
        SELECT cid, list(m ORDER BY pos) AS cv FROM (
            SELECT a.cid, s.i AS pos,
                   CAST(SUM(core.qv[s.i]) AS BIGINT) // COUNT(*) AS m
            FROM a{n} a JOIN core ON core.vec_id = a.vec_id, {_DIMS} s
            GROUP BY a.cid, s.i
        ) GROUP BY cid
    )""")
    # `asg` = the full-corpus assignment against the converged c24 —
    # the per-vector key selects from it directly; the cluster-profile
    # key aggregates it (one chain, two final views).
    parts.append(f"""asg AS MATERIALIZED (
        SELECT vec_id, cid, d2 FROM (
            SELECT vec_id, cid, d2, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM (
                SELECT q.vec_id, c.cid,
                       SUM((q.qv[s.i] - c.cv[s.i])
                           * (q.qv[s.i] - c.cv[s.i])) AS d2
                FROM q, c{_KM_UNROLL} c, {_DIMS} s
                GROUP BY q.vec_id, c.cid
            )
        ) WHERE rn = 1
    )""")
    return "WITH " + ",\n    ".join(parts)


def _km_train(rows) -> tuple:
    """Integer Lloyd to convergence over the collected coreset rows.
    Returns (centroid_matrix int64 [k' x 64], cids int64 [k']).
    Shared by the key and its margin tripwire test."""
    import numpy as np

    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    X = np.floor(
        np.stack(
            [np.asarray(rows[i]["embedding"], dtype=np.float64) for i in order]
        )
        * _KM_SCALE
    ).astype(np.int64)
    C = X[:_KM_K].copy()  # ids sorted asc → the K lowest vec_id
    cids = ids[:_KM_K].copy()
    prev = None
    for rnd in range(1, _KM_UNROLL + 1):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        pick = np.lexsort((np.broadcast_to(cids, d2.shape), d2), axis=1)[:, 0]
        lab = cids[pick]
        if prev is not None and np.array_equal(lab, prev):
            return C, cids, rnd - 1
        prev = lab
        new_c, new_ids = [], []
        for c in cids:
            m = lab == c
            if not m.any():
                continue
            s = X[m].sum(axis=0)
            n = int(m.sum())
            # truncate toward zero — DuckDB `//` semantics (numpy //
            # FLOORS, so sign-split per the r7 division trap)
            new_c.append(np.sign(s) * (np.abs(s) // n))
            new_ids.append(c)
        C = np.stack(new_c).astype(np.int64)
        cids = np.asarray(new_ids, dtype=np.int64)
    raise RuntimeError(
        f"integer Lloyd did not converge within {_KM_UNROLL} rounds — "
        "the unrolled oracle would diverge from the trained model; "
        "raise _KM_UNROLL (and re-measure the margin) instead of "
        "serving a non-converged clustering"
    )


@query(
    "sim_kmeans_converge",
    oracle=_km_oracle()
    + "\n    SELECT vec_id, cid, CAST(d2 AS BIGINT) AS d2 FROM asg",
)
def sim_kmeans_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means clustering trained to CONVERGENCE (label
    stability), not a fixed iteration count — the production
    clustering shape the fixed-iteration IVF key (`sim_ivf_topk`)
    deliberately avoided, now with a FULL hash oracle via the
    unrolled-idempotent-Lloyd construction in :func:`_km_oracle`.

    Scale design (the 100 TB shape): global Lloyd over the full corpus
    is never the plan — training runs on a FIXED-SIZE deterministic
    coreset (hash-rank top-512 by a universal hash of vec_id: one
    distributed TakeOrderedAndProject, no global sort shuffle), which
    is a bounded-by-construction trained-model input exactly like the
    PQ codebook (engine.core.collect_model_artifact, ≤4096-row guard).
    The corpus-scale work is the final assignment: the converged
    centroid matrix (≤ 8×64 int64) travels in the Arrow-UDF closure
    and every vector gets its nearest centroid in one map-only pass —
    no join, no shuffle, embarrassingly parallel at any corpus size.
    Convergence detection is driver-side over coreset labels with a
    LOUD cap at _KM_UNROLL (matching the oracle's unroll depth, 2×
    the measured convergence round).
    """
    return _km_assignment(spark, sf_dir)


def _km_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cid, d2) full-corpus assignment under the converged
    coreset-trained model — shared by sim_kmeans_converge (per-vector
    view) and sim_kmeans_cluster_profile (per-cluster aggregate)."""
    import numpy as np
    import pandas as pd

    from engine.core import collect_model_artifact

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    h = ((F.col("vec_id") % _KM_P) * _KM_A + _KM_B) % _KM_P
    core = e.orderBy(h.asc(), F.col("vec_id").asc()).limit(_KM_CORE)
    C, cids, _ = _km_train(collect_model_artifact(core))

    @F.pandas_udf("cid bigint, d2 bigint")
    def _assign(emb):
        m = np.floor(
            np.stack(emb.to_numpy()).astype(np.float64) * _KM_SCALE
        ).astype(np.int64)
        d2 = ((m[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        pick = np.lexsort((np.broadcast_to(cids, d2.shape), d2), axis=1)[:, 0]
        return pd.DataFrame(
            {"cid": cids[pick], "d2": d2[np.arange(len(pick)), pick]}
        )

    return e.select("vec_id", _assign("embedding").alias("a")).select(
        "vec_id", F.col("a.cid").alias("cid"), F.col("a.d2").alias("d2")
    )


@query(
    "sim_kmeans_cluster_profile",
    oracle=_km_oracle()
    + """
    SELECT cid,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(d2) AS BIGINT) AS inertia,
           CAST(MAX(d2) AS BIGINT) AS max_d2,
           CAST(MIN(vec_id) AS BIGINT) AS min_member
    FROM asg GROUP BY cid
    """,
)
def sim_kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality audit of the CONVERGED k-means model — the
    model-evaluation view a clustering deployment reports next to the
    assignment: per-cluster size, exact integer inertia (Σd²), radius
    proxy (max d²), and a deterministic representative (min vec_id).
    All metrics are exact int64 sums of the same quantized distances
    the assignment ranks by, so the profile carries the full unrolled
    oracle (shared `asg` CTE chain with sim_kmeans_converge — one
    construction, two views; the two keys can never disagree on the
    model).

    Scale: the map-only assignment pass feeds ONE k-group aggregate —
    map-side partial aggregation means the shuffle carries K rows per
    partition, nothing corpus-sized."""
    asg = _km_assignment(spark, sf_dir)
    return asg.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        F.sum("d2").alias("inertia"),
        F.max("d2").alias("max_d2"),
        F.min("vec_id").alias("min_member"),
    )


# -- label propagation (community detection; r13 breadth) ------------------
_LPA_ITERS = 4  # fixed synchronous rounds (LPA can 2-cycle on bipartite
                # structure, so convergence-detection is NOT sound here —
                # unlike Lloyd/CC; fixed unroll keeps both engines exact)


def _lpa_ctes() -> str:
    """Unrolled synchronous-LPA CTE body over the block-cosine graph
    (through ``lab`` = the final (node, label) partition) — iteration
    CTEs generated from _LPA_ITERS like _pr_oracle, so the constant can
    never desync engine from oracle.  Shared by graph_label_propagation
    and graph_modularity_score (one partition definition, two views)."""
    its = []
    prev = "l0"
    for i in range(1, _LPA_ITERS + 1):
        its.append(f"""
    l{i} AS (
        SELECT v AS node, label FROM (
            SELECT und.v, l.label,
                   ROW_NUMBER() OVER (PARTITION BY und.v
                       ORDER BY COUNT(*) DESC, l.label ASC) AS rn
            FROM und JOIN {prev} l ON l.node = und.u
            GROUP BY und.v, l.label
        ) WHERE rn = 1
    )""")
        prev = f"l{i}"
    return f"""{_GRAPH_EDGES_SQL},
    und AS (
        SELECT src AS u, dst AS v FROM edges
        UNION ALL
        SELECT dst AS u, src AS v FROM edges
    ),
    l0 AS (SELECT DISTINCT u AS node, u AS label FROM und),
    {",".join(its)},
    lab AS (SELECT node, label FROM {prev})
    """


def _lpa_oracle() -> str:
    return f"""
    WITH {_lpa_ctes()}
    SELECT node, label,
           CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS csize
    FROM lab
    """


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    et al. 2007) over the block-cosine graph — the third iterative
    graph kernel next to PageRank (fixed-round value iteration) and
    connected components (convergence-capped star contraction), and
    the one whose update is a per-node NEIGHBOR-LABEL MODE rather than
    a min or a sum: every node adopts its neighbors' most frequent
    label each round (ties: larger count wins, then smaller label —
    fully deterministic), so dense blocks collapse onto one label in
    a couple of rounds while bridges stay thin.

    Fixed _LPA_ITERS=4 rounds by design, NOT to convergence:
    synchronous LPA provably 2-cycles on bipartite substructure, so a
    stability loop may never terminate — the honest contract is a
    bounded-round label state, and the unrolled oracle hash-proves
    exactly that state (no float anywhere: labels are node ids,
    scores are counts).

    Scale: each round is contribution-join (und ⋈ labels on u) →
    count per (v, label) → per-v argmax — two key-partitioned
    exchanges per round over EDGE-proportional data, the Pregel
    message shape; und persists once and is re-read by all rounds
    (PageRank's links.cache() idiom).  Argmax is max_by over a
    (count, -label) struct — no per-v window, aggregation only."""
    _, labels = _lpa_partition(spark, sf_dir)
    w = Window.partitionBy("label")
    return labels.select(
        "node", "label", F.count("*").over(w).cast("long").alias("csize")
    )


def _lpa_partition(spark: SparkSession, sf_dir: str):
    """(und, labels) — the undirected block-cosine edge stream (u, v)
    and the _LPA_ITERS-round synchronous-LPA partition (node, label),
    the Spark twin of :func:`_lpa_ctes`'s ``und``/``lab`` CTEs.  Shared
    by graph_label_propagation and graph_modularity_score through
    :func:`engine.core.session_memo`, so the partition the quality
    metric scores IS the partition the detection key emits and the
    session holds one persisted ``und`` (r17 review).  ``und`` returns
    persisted AND materialized: round 1's join consumes it on both
    sides (measured sf0.1, 4 runs one session: lazy [9.48, 2.29, 1.76,
    1.58] vs eager [9.03, 1.91, 1.58, 1.53] — eager wins every run)."""
    return session_memo(spark, "lpa_partition", sf_dir,
                        lambda: _build_lpa_partition(spark, sf_dir))


def _build_lpa_partition(spark: SparkSession, sf_dir: str):
    edges = _cos_block_edges(spark, sf_dir)
    und = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionAll(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .persist()
    )
    labels = und.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_LPA_ITERS):
        counted = (
            und.join(labels, und.u == labels.node)
            .groupBy("v", "label")
            .agg(F.count("*").alias("c"))
        )
        labels = counted.groupBy("v").agg(
            F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("m")
        ).select(F.col("v").alias("node"), (-F.col("m.nl")).alias("label"))
    return (und, labels), [und]


@query(
    "graph_modularity_score",
    oracle=f"""
    WITH {_lpa_ctes()},
    deg AS (
        SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM und GROUP BY u
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_degree FROM und),
    intra AS (
        SELECT la.label, CAST(COUNT(*) AS BIGINT) AS intra_ends
        FROM und JOIN lab la ON la.node = und.u
                 JOIN lab lb ON lb.node = und.v
        WHERE la.label = lb.label
        GROUP BY la.label
    ),
    comm AS (
        SELECT l.label,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(d.deg) AS BIGINT) AS deg_sum
        FROM lab l JOIN deg d USING (node) GROUP BY l.label
    )
    SELECT c.label, c.n_nodes, c.deg_sum,
           CAST(COALESCE(i.intra_ends, 0) AS BIGINT) AS intra_ends,
           t.t_degree,
           CAST(t.t_degree * COALESCE(i.intra_ends, 0)
                - c.deg_sum * c.deg_sum AS BIGINT) AS q_num,
           CAST(t.t_degree * t.t_degree AS BIGINT) AS q_den,
           CAST(FLOOR(CAST(t.t_degree * COALESCE(i.intra_ends, 0)
                           - c.deg_sum * c.deg_sum AS DOUBLE)
                      / (CAST(t.t_degree AS DOUBLE) * t.t_degree)
                      * 1000000000 + 0.5) AS BIGINT) AS q_e9
    FROM comm c LEFT JOIN intra i USING (label) CROSS JOIN t
    """,
)
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMUNITY-QUALITY METRIC for the graph family (r16 VERDICT #3):
    Newman-Girvan modularity of the graph_label_propagation partition
    over the SHARED block-cosine graph — detect (LPA) -> evaluate
    (this key), the way sim_ann_recall_eval closes the ANN loop.  Per
    community c: Q_c = e2_c/T - (d_c/T)^2 where e2_c counts ordered
    intra-community edge ENDS in the undirected stream (= 2x the intra
    edge count), d_c is the community degree sum, and T = |und| = 2m
    the total degree — so Q_c = (T*e2_c - d_c^2) / T^2 is an
    INTEGER-SCALED RATIONAL emitted exactly (q_num / q_den, both exact
    longs; sum(q_num)/q_den = Q).  Everything derives from ``und``
    alone, so the scoring adds no second consumer of the raw cosine
    edge frame.  q_e9 pins the per-community contribution at 9
    decimals: one IEEE division of exact int64s, identical on both
    engines by the r16 quantized-cosine argument (no transcendental, no
    accumulation-order dependence).  Communities with no internal edge
    still emit a row (q_num < 0 — their degree mass is pure cost).

    Scale: degrees and intra-counts are two map-side-combinable
    aggregates over the EDGE stream (never node^2); the label joins
    key-partition on node; T broadcasts as a 1-row cross join.  The
    labels frame feeds three consumers (two join sides + comm) and is
    persisted + eagerly counted (und below it is already cached, so
    the count pays one label-propagation pass, not an edge rebuild)."""
    und, labels = _lpa_partition(spark, sf_dir)
    lab = labels.persist()
    lab.count()
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("deg")
    )
    t = und.agg(F.count("*").cast("long").alias("t_degree"))
    la = lab.select(F.col("node").alias("u"), F.col("label").alias("l_u"))
    lb = lab.select(F.col("node").alias("v"), F.col("label").alias("l_v"))
    intra = (
        und.join(la, "u")
        .join(lb, "v")
        .filter(F.col("l_u") == F.col("l_v"))
        .groupBy(F.col("l_u").alias("label"))
        .agg(F.count("*").alias("intra_ends"))
    )
    comm = (
        lab.join(deg, "node")
        .groupBy("label")
        .agg(F.count("*").alias("n_nodes"), F.sum("deg").alias("deg_sum"))
    )
    q_num = (
        F.col("t_degree") * F.col("intra_ends")
        - F.col("deg_sum") * F.col("deg_sum")
    )
    return (
        comm.join(intra, "label", "left")
        .crossJoin(F.broadcast(t))
        .select(
            "label",
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("deg_sum").cast("long").alias("deg_sum"),
            F.coalesce(F.col("intra_ends"), F.lit(0))
            .cast("long")
            .alias("intra_ends"),
            "t_degree",
        )
        .select(
            "label", "n_nodes", "deg_sum", "intra_ends", "t_degree",
            q_num.cast("long").alias("q_num"),
            (F.col("t_degree") * F.col("t_degree"))
            .cast("long")
            .alias("q_den"),
            pin_int(
                q_num.cast("double")
                / (F.col("t_degree").cast("double") * F.col("t_degree")),
                1000000000,
            ).alias("q_e9"),
        )
    )


@query(
    "sim_int8_quantize_roundtrip",
    oracle=f"""
    WITH amx AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) AS amax
        FROM embeddings
    ),
    qv AS (
        SELECT vec_id, embedding, amax,
               list_transform(embedding,
                   x -> CASE WHEN amax = 0 THEN CAST(0 AS BIGINT)
                        ELSE CAST(FLOOR(CAST(x AS DOUBLE) * 127 / amax
                                        + 0.5) AS BIGINT) END) AS q
        FROM amx
    )
    SELECT vec_id,
           CAST(FLOOR(amax * 1000000 + 0.5) AS BIGINT) AS amax_e6,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(q, v -> abs(v))) AS BIGINT) AS q_l1,
           CAST(FLOOR(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, 65), i ->
                        (CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                         - CAST(q[CAST(i AS INTEGER)] AS DOUBLE) * amax / 127)
                        * (CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                           - CAST(q[CAST(i AS INTEGER)] AS DOUBLE) * amax / 127))),
                    (acc, x) -> acc + x) / 64 * 1000000000 + 0.5) AS BIGINT)
               AS mse_e9
    FROM qv
    """,
)
def sim_int8_quantize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column
    — the standard 4× memory compression applied before ANN indexing
    at retrieval scale (every component maps to round(x·127/amax) ∈
    [-127, 127] with one float scale per vector) — plus the roundtrip
    quality audit: exact integer checksums of the codes and the
    pinned reconstruction MSE.

    Exactness: amax is a max over exactly-widened float32 components
    (no accumulation); the code computes as floor(x·127/amax + 0.5)
    with identical IEEE op order on both engines; code sums are exact
    int64; the only accumulated float (MSE) folds LEFT-TO-RIGHT over
    the component list on BOTH engines (F.aggregate ↔ list_reduce —
    list-ordered, unlike SUM-over-unnest whose order is plan-defined)
    and is pinned at 1e-9 before comparison.

    Scale: map-only, single projection chain, whole-stage codegen —
    no shuffle, no UDF; the zero-vector guard keeps ANSI division
    alive.  amax and q are PROJECTED columns before any lambda
    references them (the CLAUDE.md HOF-reeval trap: an inlined amax
    subtree would re-fold per element — 64× the work per row)."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    amx = e.select(
        "vec_id", "embedding",
        F.array_max(
            F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
        ).alias("amax"),
    )
    qv = amx.select(
        "vec_id", "embedding", "amax",
        F.when(F.col("amax") == 0, F.array_repeat(F.lit(0).cast("long"), 64))
        .otherwise(
            F.transform(
                F.col("embedding"),
                lambda x: pin_int(x.cast("double") * 127 / F.col("amax"), 1),
            )
        )
        .alias("q"),
    )
    err = F.zip_with(
        F.col("embedding"),
        F.col("q"),
        lambda x, qi: (
            x.cast("double") - qi.cast("double") * F.col("amax") / 127
        )
        * (x.cast("double") - qi.cast("double") * F.col("amax") / 127),
    )
    return qv.select(
        "vec_id",
        pin_int(F.col("amax"), 1000000).alias("amax_e6"),
        F.aggregate(F.col("q"), F.lit(0).cast("long"), lambda a, v: a + v)
        .alias("q_sum"),
        F.aggregate(F.col("q"), F.lit(0).cast("long"), lambda a, v: a + F.abs(v))
        .alias("q_l1"),
        pin_int(
            F.aggregate(err, F.lit(0.0), lambda a, x: a + x) / 64, 1000000000
        ).alias("mse_e9"),
    )


# -- cluster-balanced sampling (r14 breadth: data-curation sampler) ---------
_CB_BUDGET = 200   # total sample size (Hamilton apportionment target)
_CB_B = 98765      # hash offset — decorrelated from the coreset draw (_KM_B)


@query(
    "sample_cluster_balanced",
    oracle=_km_oracle()
    + f""",
    sizes AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_c FROM asg GROUP BY cid),
    tot AS (SELECT CAST(SUM(n_c) AS BIGINT) AS n FROM sizes),
    quo AS (
        SELECT cid, n_c,
               ({_CB_BUDGET} * n_c) // n AS base,
               {_CB_BUDGET} - SUM(({_CB_BUDGET} * n_c) // n) OVER () AS leftover,
               ROW_NUMBER() OVER (ORDER BY ({_CB_BUDGET} * n_c) % n DESC,
                                  cid ASC) AS rrn
        FROM sizes, tot
    ),
    quota AS (
        SELECT cid,
               CAST(base + CASE WHEN rrn <= leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS quota
        FROM quo
    ),
    sel AS (
        SELECT a.vec_id, a.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY a.cid
                   ORDER BY ((a.vec_id % {_KM_P}) * {_KM_A} + {_CB_B})
                            % {_KM_P}, a.vec_id) AS sel_rank
        FROM asg a
    )
    SELECT s.vec_id, s.cid, s.sel_rank, q.quota
    FROM sel s JOIN quota q ON q.cid = s.cid
    WHERE s.sel_rank <= q.quota
    """,
)
def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced (diversity) sampling — the data-curation
    sampler the mixture keys don't cover: a fixed budget of 200 rows
    apportioned across the CONVERGED k-means clusters by HAMILTON'S
    METHOD (largest remainder: base = floor(B·n_c/N) per cluster, the
    B−Σbase leftover seats to the largest remainders, remainder ties
    to the smaller cid), then a deterministic per-cluster draw (rank by
    universal hash of vec_id, offset decorrelated from the coreset
    draw).  Every step is exact integer arithmetic over the shared
    `asg` chain (one construction with the kmeans keys — the sampler
    can never disagree with the clustering), so the full pipeline
    hash-verifies: apportionment, tie-breaks, and draw.

    Scale: apportionment aggregates K rows (map-side combined);
    the draw is TWO-PHASE so no stage keys on the K-partition cid
    alone — a (cid, vec_id%32)-bucketed local rank keeps ≤budget rows
    per bucket (256-way parallel window), then the global per-cluster
    rank runs over ≤K·32·budget survivors (tiny); correct because a
    global top-q member is necessarily in its bucket's top-q ≤
    top-budget (q ≤ budget).  The oracle ranks one-phase — results are
    provably identical, which the hash match demonstrates."""
    asg = _km_assignment(spark, sf_dir).persist()
    asg.count()  # diamond: sizes AND sel below (eager per the r12 race rule)
    sizes = asg.groupBy("cid").agg(F.count("*").alias("n_c"))
    tot = sizes.agg(F.sum("n_c").alias("n"))
    quo = (
        sizes.crossJoin(F.broadcast(tot))
        .select(
            "cid",
            F.expr(f"({_CB_BUDGET} * n_c) div n").alias("base"),
            F.expr(f"({_CB_BUDGET} * n_c) % n").alias("rem"),
        )
        .select(
            "cid",
            "base",
            (F.lit(_CB_BUDGET) - F.sum("base").over(Window.partitionBy()))
            .alias("leftover"),
            F.row_number()
            .over(Window.orderBy(F.desc("rem"), F.asc("cid")))
            .alias("rrn"),
        )
    )
    quota = quo.select(
        "cid",
        (
            F.col("base")
            + F.when(F.col("rrn") <= F.col("leftover"), 1).otherwise(0)
        ).cast("long").alias("quota"),
    )
    hs = ((F.col("vec_id") % _KM_P) * _KM_A + _CB_B) % _KM_P
    wb = Window.partitionBy("cid", F.pmod(F.col("vec_id"), F.lit(32))).orderBy(
        hs.asc(), F.col("vec_id").asc()
    )
    cand = (
        asg.select("vec_id", "cid")
        .withColumn("brn", F.row_number().over(wb))
        .filter(F.col("brn") <= _CB_BUDGET)
    )
    wg = Window.partitionBy("cid").orderBy(hs.asc(), F.col("vec_id").asc())
    sel = cand.select("vec_id", "cid").withColumn(
        "sel_rank", F.row_number().over(wg)
    )
    return sel.join(F.broadcast(quota), "cid").filter(
        F.col("sel_rank") <= F.col("quota")
    ).select("vec_id", "cid", "sel_rank", "quota")


# -- incremental IVF maintenance (r14 breadth: nightly-ingest ANN shape) ----


@query(
    "sim_ivf_incremental_upsert",
    oracle=f"""
    WITH qq AS MATERIALIZED (
        SELECT vec_id, list_transform(embedding,
            x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT)) AS qv
        FROM embeddings
    ),
    cents AS (
        SELECT vec_id AS cid, qv AS cv FROM qq
        WHERE vec_id < 17 AND vec_id % 10 <> 7
    ),
    ac AS (
        SELECT e.vec_id, c.cid,
               FLOOR(CAST(SUM(e.qv[i] * c.cv[i]) AS DOUBLE)
                     / (SQRT(CAST(SUM(e.qv[i] * e.qv[i]) AS DOUBLE))
                        * SQRT(CAST(SUM(c.cv[i] * c.cv[i]) AS DOUBLE)))
                     * 1000000 + 0.5) AS cos_key
        FROM qq e, cents c, {_DIMS} s
        GROUP BY e.vec_id, c.cid
    ),
    a1 AS (
        SELECT vec_id, cid, cos_key FROM (
            SELECT vec_id, cid, cos_key,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos_key DESC, cid ASC) AS crn
            FROM ac
        ) WHERE crn = 1
    ),
    exist_n AS (
        SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_before FROM a1
        WHERE vec_id % 10 <> 7 GROUP BY cid
    ),
    newa AS (
        SELECT vec_id, cid, CAST(cos_key AS BIGINT) AS cos_e6 FROM a1
        WHERE vec_id % 10 = 7
    ),
    new_n AS (
        SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_new FROM newa GROUP BY cid
    )
    SELECT n.vec_id, n.cid AS list_id, n.cos_e6,
           CAST(COALESCE(e.n_before, 0) AS BIGINT) AS n_before,
           CAST(COALESCE(e.n_before, 0) + nn.n_new AS BIGINT) AS n_after
    FROM newa n
    LEFT JOIN exist_n e ON e.cid = n.cid
    JOIN new_n nn ON nn.cid = n.cid
    """,
)
def sim_ivf_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance — the dedup_incremental_minhash
    shape applied to vectors (r13 VERDICT next-capability (b)): a new
    ingest batch (vec_id % 10 == 7) is assigned into the EXISTING fixed
    IVF structure (centroids = the 16 lowest existing vec_ids) without
    touching the stored lists' assignments, and the key reports the
    maintenance audit a nightly upsert job emits: each new vector's
    target list, its pinned assignment score, and the list occupancy
    before/after the batch lands.

    Assignment ranks on the e6-pinned cosine of _KM_SCALE-QUANTIZED
    vectors (r16 de-risk: floor(x·2^12) int64 — dot and norm sums are
    exact integers ≤ 2^30, order-independent in float64, so the pinned
    key is bit-identical by CONSTRUCTION on both engines rather than
    tolerance-by-measurement against numpy pairwise vs DuckDB
    sequential summation) with a cid tiebreak (sim_ivf_fixed_topk
    discipline); occupancy deltas are exact integer counts — full hash
    oracle.

    Scale: the INCREMENTAL work is batch × K only — the new batch
    scores against the 16-row centroid artifact in one Arrow matmul
    per batch (map-only, argmin in-kernel: no window, no join), never
    against the stored index; at 100 TB
    the stored lists' occupancy is a catalog statistic, recomputed here
    (one corpus-wide rn=1 pass) only because this container has no
    persistent catalog between runs — the docstring-honest equivalent
    of reading the stat table."""
    # Assignment via the Arrow-blocked kernel (review r14: the
    # crossJoin form folded dot + BOTH norms per (vector, centroid)
    # pair — ~3k interpreted lambda evals per row, the documented HOF
    # trap, and re-folded each node norm 16×).  The 16-row centroid
    # table is a bounded trained artifact (collect_model_artifact +
    # closure capture); each batch computes one matmul in the oracle's
    # operation form, pins to e6 in-batch, and argmins WITH the cid
    # tiebreak in-kernel — map-only, no window, no join.
    import numpy as np
    import pandas as pd

    from engine.core import collect_model_artifact

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = e.filter((F.col("vec_id") < 17) & (F.col("vec_id") % 10 != 7)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ec")
    )
    crows = sorted(collect_model_artifact(cents), key=lambda r: r["cid"])
    cids = np.array([r["cid"] for r in crows], dtype=np.int64)
    # floor(x·2^12) quantization: every product ≤ 2^24 and every 64-dim
    # sum ≤ 2^30 is an exact integer in float64, so the BLAS matmul
    # equals DuckDB's BIGINT SUM bit-for-bit regardless of summation
    # order, and the downstream sqrt/divide/floor chain (correctly
    # rounded IEEE ops on identical inputs) matches exactly.
    C = np.floor(
        np.stack([np.asarray(r["ec"], dtype=np.float64) for r in crows])
        * _KM_SCALE
    )
    cn = np.sqrt((C * C).sum(axis=1))

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            X = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                * _KM_SCALE
            )
            xn = np.sqrt((X * X).sum(axis=1))
            key = np.floor(
                X @ C.T / (xn[:, None] * cn[None, :]) * 1000000 + 0.5
            ).astype(np.int64)
            pick = np.lexsort((np.broadcast_to(cids, key.shape), -key), axis=1)[:, 0]
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "cid": cids[pick],
                    "cos_key": key[np.arange(len(pick)), pick],
                }
            )

    a1 = e.mapInPandas(assign, "vec_id bigint, cid bigint, cos_key bigint").persist()
    a1.count()  # diamond: exist_n + newa (and newa twice) — eager per r12 rule
    exist_n = (
        a1.filter(F.col("vec_id") % 10 != 7)
        .groupBy("cid")
        .agg(F.count("*").alias("n_before"))
    )
    newa = a1.filter(F.col("vec_id") % 10 == 7).select(
        "vec_id", "cid", F.col("cos_key").cast("long").alias("cos_e6")
    )
    new_n = newa.groupBy("cid").agg(F.count("*").alias("n_new"))
    nb = F.coalesce(F.col("n_before"), F.lit(0).cast("long"))
    return (
        newa.join(F.broadcast(exist_n), "cid", "left")
        .join(F.broadcast(new_n), "cid")
        .select(
            "vec_id",
            F.col("cid").alias("list_id"),
            "cos_e6",
            nb.alias("n_before"),
            (nb + F.col("n_new")).alias("n_after"),
        )
    )


# -- hybrid retrieval fusion (r14 breadth: lexical + vector RRF) ------------
from engine.text import _RET_A, _RET_B, _RET_P, _bm25_ctes  # noqa: E402

_RRF_K = 60      # the standard RRF damping constant (Cormack et al. 2009)
_RRF_DEPTH = 20  # per-system candidate depth
_RRF_TOPK = 10


@query(
    "sim_rrf_fusion",
    oracle=f"""
    WITH {_bm25_ctes(q_src="embeddings")},
    lex AS (
        SELECT q_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY score_e4 DESC, doc_id ASC) AS lrnk
        FROM sc WHERE doc_id <> q_id
    ),
    qq AS MATERIALIZED (
        SELECT vec_id, list_transform(embedding,
            x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT)) AS qv
        FROM embeddings
    ),
    qv AS (SELECT vec_id AS q_id, qv AS eq FROM qq
           ORDER BY ((vec_id % {_RET_P}) * {_RET_A} + {_RET_B}) % {_RET_P},
                    vec_id LIMIT 8),
    vc AS (
        SELECT q.q_id, e.vec_id AS doc_id,
               FLOOR(CAST(SUM(q.eq[i] * e.qv[i]) AS DOUBLE)
                     / (SQRT(CAST(SUM(q.eq[i] * q.eq[i]) AS DOUBLE))
                        * SQRT(CAST(SUM(e.qv[i] * e.qv[i]) AS DOUBLE)))
                     * 1000000 + 0.5) AS cos_e6
        FROM qv q, qq e, {_DIMS} s
        WHERE e.vec_id <> q.q_id
        GROUP BY q.q_id, e.vec_id
    ),
    vec AS (
        SELECT q_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos_e6 DESC, doc_id ASC) AS vrnk
        FROM vc
    ),
    l20 AS (SELECT * FROM lex WHERE lrnk <= {_RRF_DEPTH}),
    v20 AS (SELECT * FROM vec WHERE vrnk <= {_RRF_DEPTH}),
    fused AS (
        SELECT COALESCE(l.q_id, v.q_id) AS q_id,
               COALESCE(l.doc_id, v.doc_id) AS doc_id,
               CAST(COALESCE(l.lrnk, 0) AS BIGINT) AS lex_rnk,
               CAST(COALESCE(v.vrnk, 0) AS BIGINT) AS vec_rnk,
               CAST(CASE WHEN l.lrnk IS NULL THEN 0
                         ELSE 1000000 // ({_RRF_K} + l.lrnk) END
                    + CASE WHEN v.vrnk IS NULL THEN 0
                           ELSE 1000000 // ({_RRF_K} + v.vrnk) END
                    AS BIGINT) AS rrf_e6
        FROM l20 l FULL OUTER JOIN v20 v
          ON v.q_id = l.q_id AND v.doc_id = l.doc_id
    )
    SELECT q_id, doc_id, lex_rnk, vec_rnk, rrf_e6, frnk FROM (
        SELECT q_id, doc_id, lex_rnk, vec_rnk, rrf_e6,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY rrf_e6 DESC, doc_id ASC) AS frnk
        FROM fused)
    WHERE frnk <= {_RRF_TOPK}
    """,
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — reciprocal-rank fusion (RRF, Cormack et al.
    2009) of the BM25 lexical ranking and the exact-cosine vector
    ranking for the SAME bounded query set (the corpus aligns doc_id ≡
    vec_id): per system, top-20 candidates excluding the query doc
    itself; fused score = Σ 1e6 // (60 + rank) as EXACT integer
    division (the order-preserving integer surrogate of 1/(60+r) —
    deterministic on both engines, so the fusion hash-verifies
    end-to-end including absent-from-one-system candidates, which
    contribute 0 through the full-outer join).

    Shares the BM25 `sc` chain with text_bm25_topk
    (engine.text._bm25_scores / _bm25_ctes — one scorer, two keys);
    BOTH systems draw their queries from the EMBEDDINGS id domain
    (q_src="embeddings"), so lexical and vector sides see the identical
    query set at every sf — documents and embeddings differ in row
    count at sf0.1 (5000 vs 2000), and a documents-side draw would
    desync half the query set.

    Scale: the lexical side is the bounded-query postings probe; the
    vector side broadcasts 8 query vectors against the collection
    (map-only scoring + per-query top-20); the fusion joins two
    ≤8×20-row frames — negligible.  At 100 TB both candidate
    generators would be their ANN/index variants (sim_ivf_fixed_topk /
    text_bm25_topk); the fusion operator itself is rank-only and
    scale-free."""
    from engine.text import _bm25_scores

    # Query draw from the EMBEDDINGS id domain (review r14: documents
    # and embeddings diverge in row count at sf0.1 — 5000 vs 2000 — so
    # a documents-side draw would give the two systems different query
    # sets and half the fusion would degenerate to single-system rows).
    sc_ = _bm25_scores(spark, sf_dir, q_src="embeddings")
    wl = Window.partitionBy("q_id").orderBy(F.desc("score_e4"), F.asc("doc_id"))
    lex = (
        sc_.filter(F.col("doc_id") != F.col("q_id"))
        .withColumn("lrnk", F.row_number().over(wl))
        .filter(F.col("lrnk") <= _RRF_DEPTH)
        .select("q_id", "doc_id", "lrnk")
    )
    # Vector side: Arrow-blocked numpy scoring (the sim_knn_topk_blocked
    # physical plan — a 64-dim HOF fold per crossJoin pair is the
    # interpreted-HOF trap at ~128 lambda evals/pair).  Queries are a
    # bounded-by-construction trained-artifact-sized set (8 rows) riding
    # the UDF closure; each batch computes one matmul in the ORACLE'S
    # operation form (raw dot, one divide by the norm product), pins to
    # e6 in-batch, and emits only its local top-20 per query — the
    # global window merges block winners (local-k == global-k keeps
    # every candidate).
    import numpy as np
    import pandas as pd

    from engine.core import collect_model_artifact

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    h = ((F.col("vec_id") % _RET_P) * _RET_A + _RET_B) % _RET_P
    qv = e.orderBy(h.asc(), F.col("vec_id").asc()).limit(8)
    qrows = sorted(collect_model_artifact(qv), key=lambda r: r["vec_id"])
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    # _KM_SCALE quantization (r16 de-risk): exact-integer dot/norm sums
    # in float64 — bit-identical to the oracle's BIGINT sums by
    # construction (see sim_ivf_incremental_upsert).
    Q = np.floor(
        np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in qrows])
        * _KM_SCALE
    )
    qn = np.sqrt((Q * Q).sum(axis=1))

    def block_top(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            X = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                * _KM_SCALE
            )
            en = np.sqrt((X * X).sum(axis=1))
            key = np.floor(
                X @ Q.T / (en[:, None] * qn[None, :]) * 1000000 + 0.5
            ).astype(np.int64)
            out = {"q_id": [], "doc_id": [], "cos_e6": []}
            for j in range(len(q_ids)):
                mask = ids != q_ids[j]
                kj, ij = key[mask, j], ids[mask]
                order = np.lexsort((ij, -kj))[:_RRF_DEPTH]
                out["q_id"].extend([q_ids[j]] * len(order))
                out["doc_id"].extend(ij[order])
                out["cos_e6"].extend(kj[order])
            yield pd.DataFrame(out)

    wv = Window.partitionBy("q_id").orderBy(F.desc("cos_e6"), F.asc("doc_id"))
    vec = (
        e.mapInPandas(block_top, "q_id bigint, doc_id bigint, cos_e6 bigint")
        .withColumn("vrnk", F.row_number().over(wv))
        .filter(F.col("vrnk") <= _RRF_DEPTH)
        .select("q_id", "doc_id", "vrnk")
    )
    rrf = (
        F.when(F.col("lrnk").isNull(), F.lit(0).cast("long"))
        .otherwise(F.expr(f"1000000 div ({_RRF_K} + lrnk)"))
        + F.when(F.col("vrnk").isNull(), F.lit(0).cast("long"))
        .otherwise(F.expr(f"1000000 div ({_RRF_K} + vrnk)"))
    )
    fused = lex.join(vec, ["q_id", "doc_id"], "full_outer").select(
        "q_id",
        "doc_id",
        F.coalesce(F.col("lrnk").cast("long"), F.lit(0)).alias("lex_rnk"),
        F.coalesce(F.col("vrnk").cast("long"), F.lit(0)).alias("vec_rnk"),
        rrf.cast("long").alias("rrf_e6"),
    )
    wf = Window.partitionBy("q_id").orderBy(F.desc("rrf_e6"), F.asc("doc_id"))
    return fused.withColumn("frnk", F.row_number().over(wf)).filter(
        F.col("frnk") <= _RRF_TOPK
    )


# -- embedding distribution drift (r14 breadth: pipeline monitoring) --------
_DRIFT_SCALE = 4096  # 2^12 quantization (power of two — exact products)


@query(
    "sim_embedding_drift",
    oracle=f"""
    WITH q AS MATERIALIZED (
        SELECT label, vec_id % 2 AS half,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_DRIFT_SCALE})
                        AS BIGINT)) AS qv
        FROM embeddings
    ),
    per AS MATERIALIZED (
        SELECT label, half, s.i AS pos,
               CAST(SUM(qv[s.i]) AS BIGINT) // COUNT(*) AS c
        FROM q, {_DIMS} s
        GROUP BY label, half, s.i
    ),
    cnt AS (
        SELECT label,
               CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM q GROUP BY label
    ),
    dr AS (
        SELECT a.label,
               CAST(SUM((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS drift_l2sq
        FROM per a JOIN per b ON b.label = a.label AND b.pos = a.pos
        WHERE a.half = 0 AND b.half = 1
        GROUP BY a.label
    )
    SELECT d.label, c.n_a, c.n_b, d.drift_l2sq
    FROM dr d JOIN cnt c ON c.label = d.label
    """,
)
def sim_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution DRIFT monitor — the vector-side sibling of
    agg_quantile_drift/agg_ks_drift: per label, the squared L2 distance
    between the two corpus halves' (vec_id parity) mean embeddings,
    the day-over-day \"did the encoder or the data move?\" check an
    embedding pipeline runs before trusting a new batch.  Exact by
    integer quantization (floor(x·2^12) — the kmeans discipline):
    per-dim sums are exact int64, centroids are truncating integer
    division (Spark `div` ≡ DuckDB `//`), and the distance is an
    integer sum — full hash oracle, no float tolerance anywhere.

    Scale: posexplode feeds a hash aggregate whose map-side combine
    bounds the exchange at labels × 2 × 64 rows per partition —
    corpus-sized input, model-sized shuffle; the half-vs-half join and
    drift aggregate run on (labels × 64)-row frames.  The per frame
    feeds both sides of the half join, so it persists and materializes
    eagerly (r12 race rule)."""
    e = load(spark, sf_dir, "embeddings").select("label", "vec_id", "embedding")
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * _DRIFT_SCALE).cast("long"),
    )
    q = e.select(
        "label", (F.col("vec_id") % 2).alias("half"), qv.alias("qv")
    )
    per = (
        q.select("label", "half", F.posexplode("qv").alias("pos0", "comp"))
        .select("label", "half", (F.col("pos0") + 1).alias("pos"), "comp")
        .groupBy("label", "half", "pos")
        .agg(F.sum("comp").alias("s"), F.count("*").alias("n"))
        .select("label", "half", "pos", F.expr("s div n").alias("c"))
        .persist()
    )
    per.count()  # diamond: both sides of the half join derive from per
    cnt = q.groupBy("label").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_b"),
    )
    a = per.filter(F.col("half") == 0).select(
        "label", "pos", F.col("c").alias("ca")
    )
    b = per.filter(F.col("half") == 1).select(
        F.col("label").alias("b_label"), F.col("pos").alias("b_pos"),
        F.col("c").alias("cb"),
    )
    dr = (
        a.join(b, (a.label == b.b_label) & (a.pos == b.b_pos))
        .select(
            "label",
            # (ca-cb)*(ca-cb), NOT **2 — Column ** is float pow()
            ((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
            .alias("d2"),
        )
        .groupBy("label")
        .agg(F.sum("d2").alias("drift_l2sq"))
    )
    return dr.join(cnt, "label").select("label", "n_a", "n_b", "drift_l2sq")


# -- k-core decomposition (r14 breadth: 4th iterative graph kernel) ---------
_KCORE_K = 3        # core order under test (K=3: nontrivial at sf0.01/0.1)
_KCORE_UNROLL = 18  # oracle unroll == Spark loud cap (2x measured
                    # convergence: 7 rounds at sf0.01, 9 at sf0.1)


def _kcore_oracle() -> str:
    """Unroll-past-convergence twin (the r13 sim_kmeans_converge
    pattern): peeling is MONOTONE — a converged peel round is the
    identity — so a static unroll of depth >= the convergence round
    equals the Spark side's converged edge set exactly.  Every chain
    CTE MATERIALIZED (r13 trap: DuckDB inlines single-use CTEs and a
    ~50-level inlined tree explodes planning)."""
    parts = [_GRAPH_EDGES_SQL.strip().rstrip(),
             "e0 AS MATERIALIZED (SELECT src, dst FROM edges)"]
    prev = "e0"
    for n in range(1, _KCORE_UNROLL + 1):
        parts.append(f"""k{n} AS MATERIALIZED (
        SELECT node FROM (
            SELECT src AS node FROM {prev}
            UNION ALL SELECT dst FROM {prev}
        ) GROUP BY node HAVING COUNT(*) >= {_KCORE_K}
    )""")
        parts.append(f"""e{n} AS MATERIALIZED (
        SELECT e.src, e.dst FROM {prev} e
        JOIN k{n} a ON a.node = e.src
        JOIN k{n} b ON b.node = e.dst
    )""")
        prev = f"e{n}"
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT node, CAST(COUNT(*) AS BIGINT) AS core_deg FROM (
        SELECT src AS node FROM {prev} UNION ALL SELECT dst FROM {prev}
    ) GROUP BY node
    """
    )


@query("graph_kcore_decompose", oracle=_kcore_oracle())
def graph_kcore_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE decomposition (Seidman 1983 degeneracy peeling) of the
    block-cosine graph — the fourth iterative graph kernel next to
    PageRank (fixed rounds), connected components (star contraction)
    and label propagation (mode update), and the one whose update is a
    SUBGRAPH-INDUCED filter: repeatedly delete every node of degree
    < 3 in the CURRENT subgraph until none remains; the survivors are
    the 3-core (the standard cohesive-subgroup / spam-cluster
    detector).  Returns each core member with its within-core degree.

    Convergence is detected by edge-count stability (peeling only
    deletes: a round that removes no node removes no edge, and a
    removed node always removes its incident edges), with a LOUD cap
    at _KCORE_UNROLL; the oracle unrolls exactly that depth — sound
    because a converged peel round is the identity
    (unroll-past-convergence, the sim_kmeans_converge construction).

    Scale: each round is one degree aggregate (map-side combined,
    edge-proportional exchange) + two semi-joins against the surviving
    node set — the Pregel message shape, O(E) per round, O(peel
    depth) rounds, run in ``core.fixpoint`` like the CC kernel; the
    final degree aggregate returns lazily, as CC's window does."""

    def degrees(E: DataFrame, name: str) -> DataFrame:
        return (
            E.select(F.col("src").alias("node"))
            .unionAll(E.select(F.col("dst").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias(name))
        )

    def peel(E: DataFrame) -> DataFrame:
        keep = degrees(E, "deg").filter(F.col("deg") >= _KCORE_K).select("node")
        return E.join(keep, E.src == keep.node, "left_semi").join(
            keep, F.col("dst") == keep.node, "left_semi"
        )

    # A cap hit means the unrolled oracle would diverge: raise
    # _KCORE_UNROLL (and re-measure the margin) rather than serve a
    # core that has not converged.
    E = fixpoint(
        spark, _cos_block_edges(spark, sf_dir), peel,
        max_iters=_KCORE_UNROLL,
        probe=DataFrame.count,
        what="k-core peeling (_KCORE_UNROLL)",
    )
    return degrees(E, "core_deg")


# -- ANN recall evaluation (r14 breadth: index-quality eval harness) --------


@query(
    "sim_ann_recall_eval",
    oracle=f"""
    WITH ivf AS ({_ORACLES["sim_ivf_fixed_topk"]}),
         knn AS ({_ORACLES["sim_knn_topk"]})
    SELECT k.q_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           -- 10000*hits // n_exact, NOT a hard-coded 10000/k multiplier:
           -- n_exact comes from the same ground-truth frame, so a future
           -- top-k change in the composed keys rescales recall_bp
           -- automatically instead of silently misscaling (r14 ADVICE #2)
           CAST(10000 * SUM(CASE WHEN i.neighbor_id IS NOT NULL
                            THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT)
               AS recall_bp
    FROM knn k
    LEFT JOIN ivf i ON i.q_id = k.q_id AND i.neighbor_id = k.neighbor_id
    GROUP BY k.q_id
    """,
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality EVALUATION as an operator — recall@5 of the
    hash-verified IVF index (sim_ivf_fixed_topk) against the exact
    brute-force ground truth (sim_knn_topk) for the shared 5-query
    set: the eval harness an ANN deployment runs before trusting an
    index build, emitted as a queryable frame (per query: ground-truth
    size, hits, recall in basis points — 10000·hits div n_exact, so the
    scale tracks the composed keys' k by construction).  Both
    sides are deterministic pinned-cosine rankings, so the WHOLE
    evaluation carries a full hash oracle (the oracle composes the two
    keys' committed oracle texts verbatim — module-level f-string, the
    eval can never desync from the keys it grades).

    Scale: both inputs are bounded per-query top-5 frames (the heavy
    lifting — index probe, exact scan — happens inside the composed
    chains at their documented scale shapes); the eval join is
    25-row × 25-row."""
    exact = sim_knn_topk(spark, sf_dir).select("q_id", "neighbor_id")
    ivf = sim_ivf_fixed_topk(spark, sf_dir).select(
        F.col("q_id").alias("i_q"),
        F.col("neighbor_id").alias("i_n"),
        F.lit(1).alias("hit"),
    )
    j = exact.join(
        ivf,
        (exact.q_id == ivf.i_q) & (exact.neighbor_id == ivf.i_n),
        "left",
    )
    n_hits = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    # recall_bp self-calibrates from the ground-truth count (see oracle
    # comment): 10000·hits div n_exact, integer-exact on both engines.
    return (
        j.groupBy("q_id")
        .agg(F.count("*").alias("n_exact"), n_hits.alias("n_hits"))
        .select(
            "q_id",
            "n_exact",
            "n_hits",
            F.expr("10000 * n_hits div n_exact").alias("recall_bp"),
        )
    )


# -- compound IVF+PQ index (r15: the FAISS-IVFPQ production architecture —
# -- coarse routing + product-quantized RESIDUALS inside each list) ---------
_IVFPQ_CB_N = 32  # residual-codebook source vectors (lowest vec_ids)


@query(
    "sim_ivfpq_adc_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               embedding,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_PQF_Q}) AS BIGINT))
                   AS qv
        FROM embeddings
    ),
    {_IVF_RANKED_SQL},
    inv AS (SELECT vec_id, cid AS list_id FROM ranked WHERE crn = 1),
    probes AS (SELECT vec_id AS q_id, cid AS list_id FROM ranked
               WHERE crn <= {_IVF_PROBES} AND vec_id < 5),
    res AS (
        SELECT r.vec_id, r.list_id,
               list_transform(range(1, 65),
                   k -> v.qv[CAST(k AS INTEGER)] - cq.qv[CAST(k AS INTEGER)])
                   AS rv
        FROM inv r
        JOIN q v ON v.vec_id = r.vec_id
        JOIN q cq ON cq.vec_id = r.list_id
    ),
    cb AS (SELECT vec_id AS c, rv AS cvr FROM res
           WHERE vec_id < {_IVFPQ_CB_N}),
    cdist AS (
        SELECT r.vec_id, r.list_id, mm.m, cb.c,
               SUM((r.rv[CAST(mm.m * {_PQ_SUB} + dd.d AS INTEGER) + 1]
                    - cb.cvr[CAST(mm.m * {_PQ_SUB} + dd.d AS INTEGER) + 1])
                   * (r.rv[CAST(mm.m * {_PQ_SUB} + dd.d AS INTEGER) + 1]
                      - cb.cvr[CAST(mm.m * {_PQ_SUB} + dd.d AS INTEGER) + 1]))
                   AS d2
        FROM res r, cb, UNNEST(range({_PQ_M})) mm(m),
             UNNEST(range({_PQ_SUB})) dd(d)
        GROUP BY 1, 2, 3, 4
    ),
    codes AS (
        SELECT vec_id, list_id, m, c AS code
        FROM (SELECT vec_id, list_id, m, c,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                        ORDER BY d2 ASC, c ASC) AS arn
              FROM cdist)
        WHERE arn = 1
    ),
    qres AS (
        SELECT p.q_id, p.list_id,
               list_transform(range(1, 65),
                   k -> v.qv[CAST(k AS INTEGER)] - cq.qv[CAST(k AS INTEGER)])
                   AS rv
        FROM probes p
        JOIN q v ON v.vec_id = p.q_id
        JOIN q cq ON cq.vec_id = p.list_id
    ),
    qtab AS (
        SELECT r.q_id, r.list_id, mm.m, cb.c,
               SUM((r.rv[CAST(mm.m * {_PQ_SUB} + dd.d AS INTEGER) + 1]
                    - cb.cvr[CAST(mm.m * {_PQ_SUB} + dd.d AS INTEGER) + 1])
                   * (r.rv[CAST(mm.m * {_PQ_SUB} + dd.d AS INTEGER) + 1]
                      - cb.cvr[CAST(mm.m * {_PQ_SUB} + dd.d AS INTEGER) + 1]))
                   AS d2
        FROM qres r, cb, UNNEST(range({_PQ_M})) mm(m),
             UNNEST(range({_PQ_SUB})) dd(d)
        GROUP BY 1, 2, 3, 4
    ),
    adc AS (
        SELECT t.q_id, cd.vec_id AS neighbor_id,
               CAST(SUM(t.d2) AS BIGINT) AS adc_dist
        FROM codes cd
        JOIN qtab t ON t.list_id = cd.list_id AND t.m = cd.m
                   AND t.c = cd.code
        WHERE cd.vec_id <> t.q_id
        GROUP BY 1, 2
    )
    SELECT q_id, neighbor_id, adc_dist, rn
    FROM (SELECT q_id, neighbor_id, adc_dist,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY adc_dist ASC, neighbor_id ASC)
                     AS rn
          FROM adc)
    WHERE rn <= 5
    """,
)
def sim_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOUND IVF+PQ index (the FAISS-IVFPQ production architecture)
    — the two hash-verified index families composed the way a real
    billion-vector deployment runs them: a coarse quantizer (the fixed
    16-centroid IVF, pinned-cosine assignment with cid tiebreak) routes
    every vector to one inverted list, and WITHIN each list the vector
    is product-quantized as its RESIDUAL against the list centroid —
    on clustered data residuals span a far tighter ball than raw
    vectors, which is why production IVFPQ beats flat PQ per byte.
    Search probes the query's 2 nearest lists, builds one
    per-(query, list) ADC table against the query's OWN residual in
    that list (the residual differs per probed centroid — the detail
    naive IVF+PQ compositions get wrong), and ranks candidates by 8
    integer table lookups.

    Measured on THIS corpus (weak structure, top cosines ≈0.35): raw
    compound-ADC@5 overlaps exact kNN 7/25 at sf0.01 vs flat PQ's 6/25,
    but 3/25 at sf0.1 — the 2-probe routing caps recall before PQ
    quality matters (true neighbors outside the probed lists are
    unreachable, exactly the documented IVF trade; the exact-re-rank
    recall story lives in sim_ivf_fixed_topk at 23-25/25 and
    sim_ann_recall_eval).  The verified surface here is the compound
    INDEX CONSTRUCTION — routing, residual codebook, encoding, per-list
    tables — not retrieval quality on unclustered data.

    Everything stays in the exact-int64 family: embeddings and
    centroids quantize at 2²⁰, residuals are int64 differences
    (|r| < 2²², per-subspace Σ₈diff² < 2⁴⁹, ADC sum < 2⁵² — BIGINT
    safe), the 32-entry residual codebook is the lowest-id vectors'
    own residuals, encode is argmin with first-min ≡ (d2 ASC, c ASC)
    tiebreak (codebook rows sorted by vec_id on both sides), so the
    oracle replays routing, codebook, encoding, per-list tables and
    the final top-5 bit-for-bit.  Raw ADC output (no exact re-rank) —
    the verified surface is the compound quantized index itself, the
    sim_pq_fixed_adc_topk discipline.

    Scale shape: assignment is a broadcast-16 map pass + one window;
    codes are skinny (vec, m, code) rows; the ADC join touches only
    the probed lists' occupancy (~2N/16 per query) via the per-query
    2·8·32-row tables; raw vectors never cross the candidate join.
    Codebook + centroids are bounded trained artifacts
    (collect_model_artifact) captured in the Arrow-kernel closures."""
    import numpy as np
    import pandas as pd

    from engine.core import collect_model_artifact

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = e.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ec")
    )
    # shared routing diamond: inverted lists, probes and the codebook
    # artifact collect all read its cache
    ranked = _ivf_fixed_ranked(spark, sf_dir)
    inv = ranked.filter(F.col("crn") == 1).select(
        "vec_id", F.col("cid").alias("list_id"), "embedding"
    )
    probes = ranked.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("cid").alias("list_id"),
        "embedding",
    )

    # Bounded trained artifacts: 16 quantized centroids + the 32
    # lowest-id vectors' residuals (the codebook), closure-captured.
    C = np.zeros((_IVF_K, 64), dtype=np.int64)
    for r in collect_model_artifact(cents):
        C[r["cid"]] = np.floor(
            np.asarray(r["ec"], dtype=np.float64) * _PQF_Q
        ).astype(np.int64)
    cb_rows = sorted(
        collect_model_artifact(inv.filter(F.col("vec_id") < _IVFPQ_CB_N)),
        key=lambda r: r["vec_id"],
    )
    CB = np.stack(
        [
            np.floor(
                np.asarray(r["embedding"], dtype=np.float64) * _PQF_Q
            ).astype(np.int64)
            - C[r["list_id"]]
            for r in cb_rows
        ]
    ).reshape(_IVFPQ_CB_N, _PQ_M, _PQ_SUB)

    def _res_dists(emb, lid):
        X = np.stack(emb.to_numpy()).astype(np.float64)
        R = (
            np.floor(X * _PQF_Q).astype(np.int64)
            - C[lid.to_numpy().astype(np.int64)]
        ).reshape(len(X), _PQ_M, _PQ_SUB)
        diff = R[:, :, None, :] - CB.transpose(1, 0, 2)[None]  # (n,M,CB,SUB)
        return (diff * diff).sum(axis=3)  # (n, M, CB) exact int64

    @F.pandas_udf("array<int>")
    def _rescodes(emb, lid):
        return pd.Series(
            list(_res_dists(emb, lid).argmin(axis=2).astype(np.int32))
        )

    @F.pandas_udf("array<long>")
    def _resqtab(emb, lid):
        return pd.Series(list(_res_dists(emb, lid).reshape(len(emb), -1)))

    codes = inv.select(
        F.col("vec_id").alias("neighbor_id"),
        "list_id",
        F.posexplode(_rescodes("embedding", "list_id")).alias("m", "code"),
    )
    qtab = probes.select(
        "q_id",
        F.col("list_id").alias("q_list"),
        F.posexplode(_resqtab("embedding", "list_id")).alias("mc", "d2"),
    ).select(
        "q_id",
        "q_list",
        F.expr(f"mc div {_IVFPQ_CB_N}").alias("qm"),
        (F.col("mc") % _IVFPQ_CB_N).alias("qc"),
        "d2",
    )
    adc = (
        codes.join(
            qtab,
            (F.col("list_id") == F.col("q_list"))
            & (F.col("m") == F.col("qm"))
            & (F.col("code") == F.col("qc")),
        )
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .groupBy("q_id", "neighbor_id")
        .agg(F.sum("d2").alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return adc.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _PQ_TOPK
    )


# -- neighbor-set Jaccard similarity (r15: the 5th graph kernel — the
# -- structural-equivalence scorer entity resolution runs over adjacency) ---


@query(
    "graph_jaccard_neighbors",
    oracle=f"""
    WITH {_GRAPH_EDGES_SQL},
    und AS (
        SELECT src AS u, dst AS v FROM edges
        UNION ALL
        SELECT dst AS u, src AS v FROM edges
    ),
    deg AS (
        SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY u
    ),
    common AS (
        SELECT a.u AS node_a, b.u AS node_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM und a JOIN und b ON a.v = b.v AND a.u < b.u
        GROUP BY 1, 2
    )
    SELECT c.node_a, c.node_b, c.n_common,
           da.deg AS deg_a, db.deg AS deg_b,
           CAST(c.n_common * 10000
                // (da.deg + db.deg - c.n_common) AS BIGINT) AS jaccard_e4
    FROM common c
    JOIN deg da ON da.u = c.node_a
    JOIN deg db ON db.u = c.node_b
    WHERE c.n_common >= 2
    """,
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEIGHBOR-SET JACCARD similarity — the structural-equivalence
    kernel (entity resolution / role discovery: two nodes are similar
    when they connect to the same others, whether or not they touch):
    per co-wedged pair, |N(a)∩N(b)| via one path-2 self-join grouped on
    the shared neighbor, degrees joined in, Jaccard as exact integer
    e4 (common·10000 div (deg_a+deg_b−common)) — the same agreement
    arithmetic as the MinHash keys, here over TRUE adjacency sets.

    Input graph: the shared block-local pinned-cosine edges
    (:func:`_cos_block_edges` — 5th kernel over it after triangles /
    PageRank / BFS / k-core).  The wedge join is the classic Σdeg(w)²
    term; here it is BOUNDED BY CONSTRUCTION (block-local edges cap
    degree at the block width), which is the same guard a 100 TB run
    applies explicitly (degree cap + hub sampling before the
    self-join, the copurchase-key discipline).  The undirected view is
    materialized EAGERLY before feeding both sides of the self-join —
    a lazy persist diamond would race both join stages into computing
    the quadratic scoring subtree twice (the r12
    kr_simhash_pairs_from_sums lesson, measured ~2x there).

    Output: pairs with ≥2 common neighbors (mirrored bound), their
    common count, degrees, and jaccard_e4."""
    edges = _cos_block_edges(spark, sf_dir)
    # Materialize the EXPENSIVE subtree first: edges is the lazily
    # persisted quadratic-scoring diamond, and und's two unionAll
    # branches (then the self-join's two sides) would otherwise race
    # its uncached partitions into computing the block-cosine pass
    # twice (the r12 lesson applied at the right level — the first cut
    # eager-counted only und, one level too high).  Once und is cached
    # the edges cache has no further consumer — release it.
    edges.count()
    und = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionAll(edges.select(F.col("dst").alias("u"),
                               F.col("src").alias("v")))
        .persist()
    )
    und.count()  # eager: both self-join sides read the cache, not the plan
    edges.unpersist()
    deg = und.groupBy("u").agg(F.count("*").alias("deg"))
    a = und.select(F.col("u").alias("node_a"), F.col("v").alias("w"))
    b = und.select(F.col("u").alias("node_b"), F.col("v").alias("w_b"))
    common = (
        a.join(b, (a.w == b.w_b) & (a.node_a < b.node_b))
        .groupBy("node_a", "node_b")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= 2)
    )
    da = deg.select(F.col("u").alias("node_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("u").alias("node_b"), F.col("deg").alias("deg_b"))
    return (
        common.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            "n_common",
            "deg_a",
            "deg_b",
            F.expr("n_common * 10000 div (deg_a + deg_b - n_common)")
            .alias("jaccard_e4"),
        )
    )


# -- hard-negative mining (r16 late: contrastive-training data prep — the
# -- triplet builder an embedding-model pipeline runs over labeled vectors) --


@query(
    "sim_hard_negative_mining",
    oracle=f"""
    WITH qq AS MATERIALIZED (
        SELECT vec_id, label, list_transform(embedding,
            x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT)) AS qv
        FROM embeddings
    ),
    qs AS (SELECT vec_id AS q_id, label AS q_label, qv AS eq FROM qq
           ORDER BY ((vec_id % {_RET_P}) * {_RET_A} + {_RET_B}) % {_RET_P},
                    vec_id LIMIT 8),
    sc AS (
        SELECT q.q_id, q.q_label, e.vec_id AS cand_id,
               e.label AS cand_label,
               FLOOR(CAST(SUM(q.eq[i] * e.qv[i]) AS DOUBLE)
                     / (SQRT(CAST(SUM(q.eq[i] * q.eq[i]) AS DOUBLE))
                        * SQRT(CAST(SUM(e.qv[i] * e.qv[i]) AS DOUBLE)))
                     * 1000000 + 0.5) AS cos_e6
        FROM qs q, qq e, {_DIMS} s
        WHERE e.vec_id <> q.q_id
        GROUP BY q.q_id, q.q_label, e.vec_id, e.label
    ),
    rk AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_id, (cand_label = q_label)
            ORDER BY cos_e6 DESC, cand_id ASC) AS rn
        FROM sc
    )
    SELECT q_id, CAST(q_label AS BIGINT) AS q_label,
           CAST(MAX(CASE WHEN cand_label = q_label THEN cand_id END)
                AS BIGINT) AS pos_id,
           CAST(MAX(CASE WHEN cand_label = q_label THEN cos_e6 END)
                AS BIGINT) AS pos_cos_e6,
           CAST(MAX(CASE WHEN cand_label <> q_label THEN cand_id END)
                AS BIGINT) AS neg_id,
           CAST(MAX(CASE WHEN cand_label <> q_label THEN cos_e6 END)
                AS BIGINT) AS neg_cos_e6,
           CAST(MAX(CASE WHEN cand_label = q_label THEN cos_e6 END)
                - MAX(CASE WHEN cand_label <> q_label THEN cos_e6 END)
                AS BIGINT) AS margin_e6
    FROM rk WHERE rn = 1
    GROUP BY q_id, q_label
    """,
)
def sim_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING — the triplet builder a contrastive
    embedding-training pipeline runs over labeled vectors: per anchor
    query, the POSITIVE is its nearest same-label neighbor and the
    HARD NEGATIVE its nearest OTHER-label neighbor (the negative that
    most confuses the model — random negatives are trivially easy),
    with the separation margin = pos_cos - neg_cos emitted so curricula
    can sort anchors hardest-first.

    Exactness: _KM_SCALE-quantized cosine pinned to e6 (bit-identical
    by construction — the r16 integer-quantization discipline), ties
    broken by candidate id; the pos/neg split is one ROW_NUMBER window
    partitioned by (query, same-label?).

    Scale: the anchor set is the bounded hash-ordered query draw (8
    rows riding the Arrow kernel's closure); scoring is one quantized
    matmul per batch, map-only (the sim_knn_topk_blocked plan) — the
    candidate stream never shuffles until the (query, same) window
    over q x N scored rows, and at 100 TB the exact scan is replaced
    by an ANN candidate probe (sim_ivf_fixed_topk) feeding the same
    window, which also bounds the window's input."""
    import numpy as np
    import pandas as pd

    from engine.core import collect_model_artifact
    from engine.text import _RET_A, _RET_B, _RET_P

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    h = ((F.col("vec_id") % _RET_P) * _RET_A + _RET_B) % _RET_P
    qv = e.orderBy(h.asc(), F.col("vec_id").asc()).limit(8)
    qrows = sorted(collect_model_artifact(qv), key=lambda r: r["vec_id"])
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    q_labels = np.array([r["label"] for r in qrows], dtype=np.int64)
    Q = np.floor(
        np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in qrows])
        * _KM_SCALE
    )
    qn = np.sqrt((Q * Q).sum(axis=1))

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            labs = pdf["label"].to_numpy(dtype=np.int64)
            X = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                * _KM_SCALE
            )
            xn = np.sqrt((X * X).sum(axis=1))
            cos = np.floor(
                X @ Q.T / (xn[:, None] * qn[None, :]) * 1000000 + 0.5
            ).astype(np.int64)
            out = {"q_id": [], "q_label": [], "cand_id": [],
                   "cand_label": [], "cos_e6": []}
            for j in range(len(q_ids)):
                mask = ids != q_ids[j]
                out["q_id"].extend([q_ids[j]] * int(mask.sum()))
                out["q_label"].extend([q_labels[j]] * int(mask.sum()))
                out["cand_id"].extend(ids[mask])
                out["cand_label"].extend(labs[mask])
                out["cos_e6"].extend(cos[mask, j])
            yield pd.DataFrame(out)

    sc = e.mapInPandas(
        score,
        "q_id long, q_label long, cand_id long, cand_label long, cos_e6 long",
    )
    same = (F.col("cand_label") == F.col("q_label")).cast("int")
    w = Window.partitionBy("q_id", "same").orderBy(
        F.desc("cos_e6"), F.asc("cand_id")
    )
    best = (
        sc.withColumn("same", same)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    pos_c = F.when(F.col("same") == 1, F.col("cos_e6"))
    neg_c = F.when(F.col("same") == 0, F.col("cos_e6"))
    return best.groupBy("q_id", "q_label").agg(
        F.max(F.when(F.col("same") == 1, F.col("cand_id")))
        .cast("long")
        .alias("pos_id"),
        F.max(pos_c).cast("long").alias("pos_cos_e6"),
        F.max(F.when(F.col("same") == 0, F.col("cand_id")))
        .cast("long")
        .alias("neg_id"),
        F.max(neg_c).cast("long").alias("neg_cos_e6"),
        (F.max(pos_c) - F.max(neg_c)).cast("long").alias("margin_e6"),
    )


@query(
    "sim_hard_negative_ivf",
    oracle=f"""
    WITH {_IVF_RANKED_SQL},
    inv AS (SELECT vec_id AS cand_id, cid AS list_id FROM ranked
            WHERE crn = 1),
    qq AS MATERIALIZED (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_KM_SCALE})
                             AS BIGINT)) AS qv
        FROM embeddings
    ),
    qs AS (SELECT vec_id AS q_id, label AS q_label, qv AS eq FROM qq
           ORDER BY ((vec_id % {_RET_P}) * {_RET_A} + {_RET_B}) % {_RET_P},
                    vec_id LIMIT 8),
    probes AS (
        SELECT r.vec_id AS q_id, r.cid AS list_id
        FROM ranked r JOIN qs ON qs.q_id = r.vec_id
        WHERE r.crn <= {_IVF_PROBES}
    ),
    cand AS (
        SELECT p.q_id, i.cand_id
        FROM probes p JOIN inv i
          ON i.list_id = p.list_id AND i.cand_id <> p.q_id
    ),
    sc AS (
        SELECT c.q_id, q.q_label, c.cand_id, e.label AS cand_label,
               FLOOR(CAST(SUM(q.eq[i] * e.qv[i]) AS DOUBLE)
                     / (SQRT(CAST(SUM(q.eq[i] * q.eq[i]) AS DOUBLE))
                        * SQRT(CAST(SUM(e.qv[i] * e.qv[i]) AS DOUBLE)))
                     * 1000000 + 0.5) AS cos_e6
        FROM cand c
        JOIN qs q ON q.q_id = c.q_id
        JOIN qq e ON e.vec_id = c.cand_id, {_DIMS} s
        GROUP BY c.q_id, q.q_label, c.cand_id, e.label
    ),
    rk AS (
        SELECT *,
               CAST(COUNT(*) OVER (PARTITION BY q_id) AS BIGINT) AS n_cand,
               ROW_NUMBER() OVER (
                   PARTITION BY q_id, (cand_label = q_label)
                   ORDER BY cos_e6 DESC, cand_id ASC) AS rn
        FROM sc
    )
    SELECT q_id, CAST(q_label AS BIGINT) AS q_label,
           MAX(n_cand) AS n_cand,
           CAST(MAX(CASE WHEN cand_label = q_label THEN cand_id END)
                AS BIGINT) AS pos_id,
           CAST(MAX(CASE WHEN cand_label = q_label THEN cos_e6 END)
                AS BIGINT) AS pos_cos_e6,
           CAST(MAX(CASE WHEN cand_label <> q_label THEN cand_id END)
                AS BIGINT) AS neg_id,
           CAST(MAX(CASE WHEN cand_label <> q_label THEN cos_e6 END)
                AS BIGINT) AS neg_cos_e6,
           CAST(MAX(CASE WHEN cand_label = q_label THEN cos_e6 END)
                - MAX(CASE WHEN cand_label <> q_label THEN cos_e6 END)
                AS BIGINT) AS margin_e6
    FROM rk WHERE rn = 1
    GROUP BY q_id, q_label
    """,
)
def sim_hard_negative_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING THROUGH THE IVF INDEX — the at-scale
    candidate path sim_hard_negative_mining's docstring promises
    executed as its own hash-verified key (r16 VERDICT #8): instead of
    scoring every anchor against the FULL collection, each anchor
    probes its 2 nearest fixed-IVF lists (the shared _ivf_fixed_ranked
    routing diamond — same centroids, pinning and tiebreak as
    sim_ivf_fixed_topk) and mines its positive / hard negative from
    the ~2N/K candidates those lists hold.  n_cand is emitted per
    anchor so the candidate-volume reduction vs the exact scan is
    itself data; anchors whose probed lists hold no same-label (or no
    other-label) candidate emit NULL for that side — the honest ANN
    recall tradeoff, visible rather than papered over.

    Exactness: _KM_SCALE-quantized vectors make dot and norms exact
    int64 sums (order-independent), so the e6-pinned cosine is
    bit-identical by construction (the r16 integer-quantization
    discipline); routing reuses the pinned-e6 centroid ranking.  The
    scoring join is pure DataFrame algebra — quantized arrays are
    PROJECTED columns before any higher-order fold (the r4 HOF
    re-evaluation trap), ~190 interpreted lambda evals per candidate
    pair, under the 200/row Arrow threshold.

    Scale: the 16-row probe side broadcasts into the inverted-list
    join; candidates per anchor are list-bounded (~2N/K, never N); the
    count window partitions on q_id — a SUBSET of the (q_id, same)
    rank window's keys, so both ride ONE exchange (CLAUDE.md subset
    rule).  At 100 TB this is exactly the miner a contrastive-training
    pipeline runs: index once, mine per anchor from probed lists."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    # Project the quantized array FIRST, fold norms in the next select
    # (r4 trap: a computed array referenced inside a HOF lambda
    # re-evaluates per element).
    qe0 = e.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _KM_SCALE).cast("long"),
        ).alias("qv"),
    )
    qe = qe0.select(
        "vec_id",
        "label",
        "qv",
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("qv"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n2"),
    )
    # qe feeds THREE evaluations (qs twice — the probes join and the
    # broadcast scoring join — plus cside), each re-running the
    # ~190-lambda quantize/fold chain over the full scan: persist +
    # eager count per the multi-consumer rule (r17 review).
    qe = qe.persist()
    qe.count()
    h = ((F.col("vec_id") % _RET_P) * _RET_A + _RET_B) % _RET_P
    qs = (
        qe.orderBy(h.asc(), F.col("vec_id").asc())
        .limit(8)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("q_label"),
            F.col("qv").alias("eq"),
            F.col("n2").alias("nq2"),
        )
    )
    ranked = _ivf_fixed_ranked(spark, sf_dir)  # inv AND probes
    inv = ranked.filter(F.col("crn") == 1).select(
        F.col("vec_id").alias("cand_id"), F.col("cid").alias("list_id")
    )
    probes = ranked.join(
        qs.select(F.col("q_id").alias("vec_id")), "vec_id"
    ).select(F.col("vec_id").alias("q_id"), F.col("cid").alias("list_id"))
    cand = probes.join(inv, "list_id").filter(
        F.col("cand_id") != F.col("q_id")
    )
    cside = qe.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("qv").alias("ec"),
        F.col("n2").alias("nc2"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("eq"), F.col("ec"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos_e6 = pin_int(
        dot.cast("double")
        / (F.sqrt(F.col("nq2").cast("double")) * F.sqrt(F.col("nc2").cast("double"))),
        1000000,
    )
    scored = (
        cand.join(F.broadcast(qs), "q_id")
        .join(cside, "cand_id")
        .select("q_id", "q_label", "cand_id", "cand_label",
                cos_e6.alias("cos_e6"))
    )
    wq = Window.partitionBy("q_id")
    w = Window.partitionBy("q_id", "same").orderBy(
        F.desc("cos_e6"), F.asc("cand_id")
    )
    best = (
        scored.withColumn("n_cand", F.count("*").over(wq))
        .withColumn("same", (F.col("cand_label") == F.col("q_label")).cast("int"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    pos_c = F.max(F.when(F.col("same") == 1, F.col("cos_e6")))
    neg_c = F.max(F.when(F.col("same") == 0, F.col("cos_e6")))
    return best.groupBy("q_id", "q_label").agg(
        F.max("n_cand").cast("long").alias("n_cand"),
        F.max(F.when(F.col("same") == 1, F.col("cand_id")))
        .cast("long")
        .alias("pos_id"),
        pos_c.cast("long").alias("pos_cos_e6"),
        F.max(F.when(F.col("same") == 0, F.col("cand_id")))
        .cast("long")
        .alias("neg_id"),
        neg_c.cast("long").alias("neg_cos_e6"),
        (pos_c - neg_c).cast("long").alias("margin_e6"),
    )


_IVF_SWEEP = (1, 2, 4)  # probe counts swept by the recall curve


@query(
    "sim_ivf_probe_recall_curve",
    oracle=f"""
    WITH {_IVF_RANKED_SQL},
    inv AS (SELECT vec_id AS neighbor_id, cid AS list_id FROM ranked
            WHERE crn = 1),
    qrank AS (
        SELECT vec_id AS q_id, cid AS list_id, crn AS lr
        FROM ranked WHERE vec_id < 5 AND crn <= {max(_IVF_SWEEP)}
    ),
    cand AS (
        SELECT q.q_id, i.neighbor_id, q.lr
        FROM qrank q JOIN inv i
          ON i.list_id = q.list_id AND i.neighbor_id <> q.q_id
    ),
    sc AS (
        SELECT c.q_id, c.neighbor_id, c.lr,
               FLOOR(SUM(CAST(eq.embedding[i] AS DOUBLE)
                         * CAST(en.embedding[i] AS DOUBLE))
                     / (SQRT(SUM(CAST(eq.embedding[i] AS DOUBLE)
                                 * CAST(eq.embedding[i] AS DOUBLE)))
                        * SQRT(SUM(CAST(en.embedding[i] AS DOUBLE)
                                   * CAST(en.embedding[i] AS DOUBLE))))
                     * 10000 + 0.5) AS cos_bp
        FROM cand c
        JOIN embeddings eq ON eq.vec_id = c.q_id
        JOIN embeddings en ON en.vec_id = c.neighbor_id,
        {_DIMS} s
        GROUP BY c.q_id, c.neighbor_id, c.lr
    ),
    g AS (SELECT CAST(unnest([{", ".join(str(p) for p in _IVF_SWEEP)}])
                      AS BIGINT) AS n_probes),
    swept AS (
        SELECT g.n_probes, s.q_id, s.neighbor_id, s.cos_bp,
               ROW_NUMBER() OVER (
                   PARTITION BY g.n_probes, s.q_id
                   ORDER BY s.cos_bp DESC, s.neighbor_id ASC) AS rn
        FROM g JOIN sc s ON s.lr <= g.n_probes
    ),
    exact5 AS (SELECT q_id, neighbor_id FROM ({_ORACLES["sim_knn_topk"]})),
    vol AS (
        SELECT g.n_probes, CAST(COUNT(*) AS BIGINT) AS n_cand
        FROM g JOIN sc s ON s.lr <= g.n_probes GROUP BY g.n_probes
    )
    SELECT w.n_probes,
           v.n_cand,
           CAST(COUNT(*) AS BIGINT) AS n_ret,
           CAST(SUM(CASE WHEN x.neighbor_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CAST(10000 * SUM(CASE WHEN x.neighbor_id IS NOT NULL
                                 THEN 1 ELSE 0 END)
                // (5 * (SELECT COUNT(DISTINCT q_id) FROM exact5))
                AS BIGINT) AS recall_bp
    FROM swept w
    LEFT JOIN exact5 x
      ON x.q_id = w.q_id AND x.neighbor_id = w.neighbor_id
    JOIN vol v ON v.n_probes = w.n_probes
    WHERE w.rn <= 5
    GROUP BY w.n_probes, v.n_cand
    """,
)
def sim_ivf_probe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE nprobe KNOB AS DATA — recall@5 vs probe count for the fixed
    IVF index (p = 1, 2, 4), the calibration curve an ANN deployment
    reads before trading candidate volume for recall (the
    dedup_cosine_calibration idiom applied to index probing; closes
    the loop sim_ann_recall_eval opened for LSH).  Per probe count:
    candidate volume n_cand (sum over the 5 fixed queries of probed
    list occupancy, self excluded), retrieved set size n_ret, hits
    against the EXACT pinned-cosine top-5 (full-scan ground truth,
    same e4 pin and id tiebreak as sim_ivf_fixed_topk's re-rank), and
    recall in exact basis points.  Candidates carry the RANK of the
    query list that found them (lr), so the whole sweep is ONE scored
    frame filtered per p — no per-p rescan of the collection.
    Monotonicity (recall and volume nondecreasing in p) is pinned in a
    unit test; the p=2 row reproduces the production index's
    operating point (_IVF_PROBES = 2).

    Scale: ground truth costs 5 broadcast query rows against the
    collection (map-only + per-query top-5) — at 100 TB one evaluates
    recall on a sampled query set exactly like this; the IVF side
    touches only probed lists (~p*N/K rows per query).  The routing is
    :func:`_ivf_ranked` at depth max(_IVF_SWEEP) (wider than the shared
    crn <= 2 diamond), and the ground truth is ``sim_knn_topk`` itself,
    in both engines."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # ranked feeds inv (crn=1, all vectors) and qrank (5 queries) — the
    # crossJoin+window subtree is nontrivial and read twice: persist (the
    # shared crn<=2 diamond cannot serve the crn<=4 sweep).  nrm rides
    # it, so inv/qrank reuse it in scoring.
    ranked = _ivf_ranked(e, max(_IVF_SWEEP)).persist()
    inv = ranked.filter(F.col("crn") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("e_emb"),
        F.col("nrm").alias("n_emb"),
        F.col("cid").alias("list_id"),
    )
    qrank = ranked.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("eq"),
        F.col("nrm").alias("nq"),
        F.col("cid").alias("list_id"),
        F.col("crn").alias("lr"),
    )
    cos_bp = pin_int(
        _dot(F.col("eq"), F.col("e_emb")) / (F.col("nq") * F.col("n_emb")), 10000
    )
    sc = (
        inv.join(F.broadcast(qrank), "list_id")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id", "lr", cos_bp.alias("cos_bp"))
    )
    # One scored frame serves every p: grid join on lr <= p.
    sc = sc.persist()
    grid = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(p).cast("long") for p in _IVF_SWEEP])
        ).alias("n_probes")
    )
    swept = (
        sc.crossJoin(F.broadcast(grid))
        .filter(F.col("lr") <= F.col("n_probes"))
    )
    wt = Window.partitionBy("n_probes", "q_id").orderBy(
        F.desc("cos_bp"), F.asc("neighbor_id")
    )
    top5 = swept.withColumn("rn", F.row_number().over(wt)).filter(
        F.col("rn") <= 5
    )
    exact5 = (
        sim_knn_topk(spark, sf_dir)
        .select("q_id", F.col("neighbor_id").alias("x_nid"))
        .withColumn("hit", F.lit(1))
    )
    n_q = exact5.agg(F.countDistinct("q_id").alias("n_q"))
    vol = swept.groupBy("n_probes").agg(F.count("*").alias("n_cand"))
    return (
        top5.join(
            exact5,
            (F.col("x_nid") == F.col("neighbor_id"))
            & (exact5.q_id == top5.q_id),
            "left",
        )
        .groupBy(top5.n_probes)
        .agg(
            F.count("*").cast("long").alias("n_ret"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
        )
        .join(F.broadcast(vol), "n_probes")
        .crossJoin(F.broadcast(n_q))
        .select(
            "n_probes",
            F.col("n_cand").cast("long").alias("n_cand"),
            "n_ret",
            "n_hits",
            F.expr("10000 * n_hits div (5 * n_q)")
            .cast("long")
            .alias("recall_bp"),
        )
    )


_PCA_ITERS = 6        # fixed power-iteration rounds (bounded-round
                      # contract, the LPA discipline — NOT to convergence)
_PCA_SHIFT = 1 << 22  # per-round rescale: w div 2^22 keeps the state in
                      # exact-int range (probed: |w| < 2^36 at all SFs)
_PCA_VSCALE = 64      # quantized loading scale (sum v^2 ~ VSCALE^2)


def _pca_chain() -> str:
    """Unrolled power-iteration CTE body (qq -> cov -> v0..v{N} with
    ``vtop`` aliasing the final iterate) — every chain CTE MATERIALIZED
    (r13: DuckDB inlines single-use CTEs and planning explodes past
    ~48 nested levels).  Shared by sim_pca_power_topcomp and
    sim_pca_project_residual so the direction the projection uses IS
    the direction the trainer emits."""
    its = []
    prev = "v0"
    for r in range(1, _PCA_ITERS + 1):
        its.append(f"""
    w{r} AS MATERIALIZED (
        SELECT cov.i, CAST(SUM(cov.c * v.val) AS BIGINT) AS w
        FROM cov JOIN {prev} v ON v.i = cov.j GROUP BY cov.i
    ),
    s{r} AS MATERIALIZED (
        SELECT i, w // {_PCA_SHIFT} AS s FROM w{r}
    ),
    n{r} AS (SELECT CAST(SUM(s * s) AS BIGINT) AS n2 FROM s{r}),
    v{r} AS MATERIALIZED (
        SELECT i, CAST(FLOOR(CAST(s AS DOUBLE) * {_PCA_VSCALE}
                             / SQRT(CAST(n2 AS DOUBLE)) + 0.5) AS BIGINT)
                   AS val
        FROM s{r}, n{r}
    )""")
        prev = f"v{r}"
    return f"""qq AS MATERIALIZED (
        SELECT vec_id, list_transform(embedding,
            x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT)) AS qv
        FROM embeddings
    ),
    cov AS MATERIALIZED (
        SELECT ii.i, jj.i AS j,
               CAST(SUM(qq.qv[ii.i] * qq.qv[jj.i]) AS BIGINT) AS c
        FROM qq, {_DIMS} ii, {_DIMS} jj
        GROUP BY ii.i, jj.i
    ),
    v0 AS (SELECT i, CAST({_PCA_VSCALE} AS BIGINT) AS val FROM {_DIMS}),
    {",".join(its)},
    vtop AS (SELECT i, val FROM {prev})"""


def _pca_oracle() -> str:
    return f"""
    WITH {_pca_chain()},
    ray AS (
        SELECT CAST(SUM(a.val * cov.c * b.val) AS BIGINT) AS num
        FROM cov JOIN vtop a ON a.i = cov.i JOIN vtop b ON b.i = cov.j
    ),
    den AS (SELECT CAST(SUM(val * val) AS BIGINT) AS den FROM vtop),
    tr AS (SELECT CAST(SUM(c) AS BIGINT) AS trace FROM cov WHERE i = j)
    SELECT CAST(vtop.i AS BIGINT) AS dim, vtop.val AS loading_q,
           ray.num AS ray_num, den.den AS ray_den, tr.trace,
           CAST(10000 * ray.num // (den.den * tr.trace) AS BIGINT)
               AS share_bp
    FROM vtop, ray, den, tr
    """


@query("sim_pca_power_topcomp", oracle=_pca_oracle())
def sim_pca_power_topcomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP PRINCIPAL DIRECTION of the embedding collection by power
    iteration — the dimensionality-reduction / whitening primitive the
    engine's embedding-ops family lacked (PQ quantizes, k-means
    clusters; this finds the dominant axis a pipeline uses for
    compression, anisotropy diagnosis, or as the first step of
    low-rank whitening).  Two-stage split along the data/model
    boundary: the DATA-SIZED stage is the 64x64 second-moment matrix
    A = Q^T Q over _KM_SCALE-quantized vectors — one Arrow kernel per
    batch emits its exact partial Gram (BLAS float64 on ints < 2^53,
    the r16 exactness argument) and a (i, j) groupBy sums partials
    into exact longs; the MODEL-SIZED stage (4096-row A, the
    collect_model_artifact boundary — the _km_train coreset
    discipline) runs _PCA_ITERS fixed power-iteration rounds
    driver-side in integer-exact arithmetic: w = A v (exact), s =
    w div 2^22 (truncation toward zero on BOTH engines — np.fix here,
    DuckDB // there, the r7 sign rule), then re-quantize v =
    floor(s*64/sqrt(sum s^2) + 0.5) where sum s^2 is an EXACT long so
    the sqrt+divide is one deterministic IEEE op per component.
    Fixed rounds, not convergence (near-isotropic spectra converge
    slowly; the bounded-round state IS the contract, and the unrolled
    MATERIALIZED oracle hash-proves it exactly — the LPA discipline).
    Emits the quantized loading per dimension plus the exact Rayleigh
    rational (v^T A v / v^T v) and the trace share in basis points.

    Scale: the Gram pass is map-side partial aggregation of 4096-row
    partials — the classic distributed covariance shape, one tiny
    shuffle regardless of collection size; everything after is O(d^2)
    driver work on a bounded artifact.  Guards: every product bound
    asserted < 2^52 in-kernel and in-iteration; a zero rescaled norm
    raises loudly rather than emitting a degenerate direction."""
    v, num, den, trace = _pca_topdir(spark, sf_dir)
    return spark.range(1, 65).select(
        F.col("id").alias("dim"),
        F.lit(v).cast("array<bigint>")[F.col("id") - 1].alias("loading_q"),
        F.lit(num).cast("long").alias("ray_num"),
        F.lit(den).cast("long").alias("ray_den"),
        F.lit(trace).cast("long").alias("trace"),
        # num >= 0 always (A is PSD) — plain trunc-div matches both
        # engines on the nonnegative domain.
        F.lit(10000 * num // (den * trace)).cast("long").alias("share_bp"),
    )


def _pca_topdir(spark: SparkSession, sf_dir: str):
    """(v, ray_num, ray_den, trace) — the _PCA_ITERS-round
    power-iteration state over the exact quantized Gram matrix, the
    Spark+driver twin of :func:`_pca_chain`'s ``vtop``/``cov`` CTEs
    (v: list of 64 ints; the rest exact Python ints).  The DATA-SIZED
    stage is the distributed Gram pass (Arrow per-batch Q^T Q partials
    + (i, j) groupBy — exact int64s by the r16 BLAS-on-ints argument);
    the MODEL-SIZED 64x64 iteration runs driver-side on the
    collect_model_artifact-bounded matrix (the _km_train coreset
    discipline).  Per round: w = A v exact; s = w div 2^22 truncating
    toward zero on both engines (np.fix here, DuckDB // there — the
    r7 sign rule); v' = floor(s*64/sqrt(sum s^2) + 0.5) with sum s^2
    an EXACT long, so the sqrt+divide is one deterministic IEEE op per
    component.  Held by :func:`engine.core.session_memo` as plain ints
    (no persisted frames)."""
    return session_memo(spark, "pca_topdir", sf_dir,
                        lambda: _build_pca_topdir(spark, sf_dir))


def _build_pca_topdir(spark: SparkSession, sf_dir: str):
    import numpy as np
    import pandas as pd

    from engine.core import collect_model_artifact

    e = load(spark, sf_dir, "embeddings").select("embedding")

    def gram(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                * _KM_SCALE
            )
            A = Q.T @ Q
            assert np.abs(A).max() < 2**52, "gram partial exceeds exact range"
            ii, jj = np.meshgrid(
                np.arange(1, 65, dtype=np.int64),
                np.arange(1, 65, dtype=np.int64),
                indexing="ij",
            )
            yield pd.DataFrame(
                {
                    "i": ii.ravel(),
                    "j": jj.ravel(),
                    "c": A.ravel().astype(np.int64),
                }
            )

    cov_df = (
        e.mapInPandas(gram, "i long, j long, c long")
        .groupBy("i", "j")
        .agg(F.sum("c").alias("c"))
    )
    rows = collect_model_artifact(cov_df)
    A = np.zeros((64, 64), dtype=np.float64)
    for r in rows:
        A[r["i"] - 1, r["j"] - 1] = float(r["c"])
    assert np.abs(A).max() < 2**52
    v = np.full(64, float(_PCA_VSCALE))
    for _ in range(_PCA_ITERS):
        w = A @ v
        assert np.abs(w).max() < 2**52, "matvec exceeds exact range"
        s = np.fix(w / _PCA_SHIFT)  # trunc toward zero == DuckDB //
        n2 = float((s * s).sum())
        if n2 == 0:
            raise RuntimeError(
                "sim_pca: rescaled iterate vanished — "
                f"_PCA_SHIFT {_PCA_SHIFT} too large for this corpus"
            )
        v = np.floor(s * _PCA_VSCALE / np.sqrt(n2) + 0.5)
    num = float(v @ A @ v)
    den = float(v @ v)
    trace = float(np.trace(A))
    # Guard at the REAL cross-engine boundary, not just float exactness:
    # the oracle computes 10000 * ray.num and den * trace in BIGINT, so
    # num must stay under 2^63/10^4 (~9.2e14) or DuckDB overflows while
    # the Python side (arbitrary precision) keeps emitting rows (r17
    # review).  2^49 < 2^52, so float exactness is implied.
    assert abs(num) < 2**63 // 10000, "ray_num would overflow oracle BIGINT"
    assert den * trace < 2**62
    return ([int(x) for x in v], int(num), int(den), int(trace)), []


@query(
    "sim_pca_project_residual",
    oracle=f"""
    WITH {_pca_chain()},
    den AS (SELECT CAST(SUM(val * val) AS BIGINT) AS den FROM vtop),
    pr AS (
        SELECT q.vec_id,
               CAST(SUM(q.qv[v.i] * v.val) AS BIGINT) AS p_num,
               CAST(SUM(q.qv[v.i] * q.qv[v.i]) AS BIGINT) AS n2
        FROM qq q, vtop v
        GROUP BY q.vec_id
    )
    SELECT pr.vec_id, pr.p_num, pr.n2, den.den AS p_den,
           CAST(10000 * (pr.p_num * pr.p_num // den.den) // pr.n2
                AS BIGINT) AS ev_bp
    FROM pr, den
    """,
)
def sim_pca_project_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the learned principal direction — per-vector projection
    and explained-energy audit, the compression step that completes
    the PCA family train (sim_pca_power_topcomp) -> apply (this key)
    off ONE shared direction (_pca_topdir ↔ the _pca_chain ``vtop``
    CTE, the _nb_model discipline — trainer and projector can never
    disagree).  Per vector: p_num = <Q, v> (exact int64 — the scalar
    coordinate along the top axis as the rational p_num/p_den), n2 =
    |Q|^2 exact, and ev_bp = the share of the vector's energy the
    top component explains, computed as 10000 * (p_num^2 div p_den)
    div n2 — the INNER div first keeps every intermediate under 2^54
    (10000 * p_num^2 alone would overflow int64), truncation mirrored
    operator-for-operator in the oracle.  Residual energy is
    n2 - p_num^2/p_den by construction; low-ev_bp vectors are the ones
    a 1-D compression would destroy — the audit a whitening deployment
    reads.

    Scale: the direction is a 64-int literal folded into the
    projection expression (~190 interpreted lambda evals/row, under
    the 200 Arrow threshold) — the scan is map-only, no shuffle, no
    Python; the training pass is shared through core.session_memo."""
    v, _, den, _ = _pca_topdir(spark, sf_dir)
    vcol = F.array(*[F.lit(int(x)).cast("long") for x in v])
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qe = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _KM_SCALE).cast("long"),
        ).alias("qv"),
    )
    # qv is a PROJECTED column before the folds (r4 HOF trap).
    folded = qe.select(
        "vec_id",
        F.aggregate(
            F.zip_with(F.col("qv"), vcol, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("p_num"),
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("qv"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n2"),
    )
    return folded.select(
        "vec_id",
        "p_num",
        "n2",
        F.lit(int(den)).cast("long").alias("p_den"),
        F.expr(f"10000 * (p_num * p_num div {int(den)}L) div n2")
        .cast("long")
        .alias("ev_bp"),
    )
