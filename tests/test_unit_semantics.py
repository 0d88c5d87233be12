"""Edge-semantics unit tests over tiny in-memory frames (SURVEY.md §5
item 3) + hypothesis property checks (item 4): the behaviors the oracle
comparison exercises only incidentally — null join rows, short frames,
arg-max ties, ns-timestamp normalization, dedup idempotence, algebraic
invariants.
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import Window
from pyspark.sql import functions as F

import engine
from engine.io import load
from tests.conftest import SF_DIR


def test_left_join_unmatched_rows_are_null(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    right = spark.createDataFrame([(1, 10.0)], "id long, w double")
    out = {r.id: r.w for r in left.join(right, "id", "left").collect()}
    assert out == {1: 10.0, 2: None, 3: None}


def test_window_frame_shorter_than_bound(spark):
    # rowsBetween(-6, 0) over 3 rows: the frame silently shrinks — the
    # moving-average denominator must be the actual frame size.
    df = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "d long, v long")
    w = Window.orderBy("d").rowsBetween(-6, Window.currentRow)
    rows = df.select("d", F.count("*").over(w).alias("n"), F.sum("v").over(w).alias("s")).collect()
    assert [(r.n, r.s) for r in sorted(rows)] == [(1, 10), (2, 30), (3, 60)]


def test_max_by_struct_tiebreak(spark):
    # Equal values → the struct's second field (unique key) decides,
    # matching the oracle's ROW_NUMBER ... ORDER BY v DESC, k DESC form.
    df = spark.createDataFrame(
        [("g", 5.0, 1, "first"), ("g", 5.0, 2, "second")],
        "grp string, v double, k long, name string",
    )
    row = df.groupBy("grp").agg(
        F.expr("max_by(name, struct(v, k))").alias("winner")
    ).first()
    assert row.winner == "second"


def test_events_ns_timestamp_normalization(spark, duck):
    # The loader's ns→µs conversion must reproduce DuckDB's read exactly.
    s = (
        load(spark, SF_DIR, "events")
        .select("event_id", "ts")
        .orderBy("event_id")
        .limit(5)
        .collect()
    )
    d = duck.execute(
        "SELECT event_id, ts FROM events ORDER BY event_id LIMIT 5"
    ).fetchall()
    assert [(r.event_id, r.ts) for r in s] == [(i, t) for i, t in d]
    assert all(isinstance(r.ts, datetime.datetime) for r in s)


def test_dedup_exact_idempotent(spark):
    once = engine.QUERIES["dedup_exact"](spark, SF_DIR)
    # Re-deduping the deduped survivor set must be the identity.
    w = Window.partitionBy("lang", "source", "doc_id").orderBy("doc_id")
    again = once.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, again.collect()))


def test_sample_deterministic_is_stable(spark):
    a = engine.QUERIES["sample_deterministic"](spark, SF_DIR).collect()
    b = engine.QUERIES["sample_deterministic"](spark, SF_DIR).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ---------------------------------------------------------------------------
# hypothesis property checks (small example counts — each example is a
# Spark job; the properties, not the volume, carry the evidence)
# ---------------------------------------------------------------------------

_hyp = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_hyp
@given(
    a=st.lists(st.integers(0, 50), max_size=30),
    b=st.lists(st.integers(0, 50), max_size=30),
)
def test_union_all_count_additive(spark, a, b):
    dfa = spark.createDataFrame([(x,) for x in a], "v long") if a else spark.range(0).select(F.col("id").alias("v"))
    dfb = spark.createDataFrame([(x,) for x in b], "v long") if b else spark.range(0).select(F.col("id").alias("v"))
    assert dfa.unionByName(dfb).count() == len(a) + len(b)


@_hyp
@given(vals=st.lists(st.integers(-1000, 1000), min_size=1, max_size=40), k=st.integers(1, 10))
def test_topk_is_prefix_of_sorted(spark, vals, k):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id long, v long")
    top = [r.v for r in df.orderBy(F.desc("v"), F.asc("id")).limit(k).collect()]
    assert top == sorted(vals, reverse=True)[: min(k, len(vals))]


@_hyp
@given(vec=st.lists(st.floats(-1, 1, allow_nan=False, width=32), min_size=2, max_size=8))
def test_cosine_self_similarity_is_one(spark, vec):
    if sum(x * x for x in vec) < 1e-6:
        return  # zero vector: cosine undefined
    df = spark.createDataFrame([(vec,)], "e array<float>")
    dot = F.aggregate(
        F.zip_with("e", "e", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = df.select((dot / (F.sqrt(dot) * F.sqrt(dot))).alias("c")).first().c
    assert cos == pytest.approx(1.0, abs=1e-9)


@_hyp
@given(
    xs=st.sets(st.integers(0, 30), max_size=15),
    ys=st.sets(st.integers(0, 30), max_size=15),
)
def test_jaccard_bounds_and_symmetry(spark, xs, ys):
    if not xs or not ys:
        return
    inter = len(xs & ys)
    jac = inter / (len(xs) + len(ys) - inter)
    assert 0.0 <= jac <= 1.0
    assert jac == inter / (len(ys) + len(xs) - inter)  # symmetric
    if xs == ys:
        assert jac == 1.0


@_hyp
@given(
    vec=st.lists(
        st.floats(-2, 2, allow_nan=False, width=32), min_size=4, max_size=8
    )
)
def test_quantization_exactness_across_runtimes(spark, vec):
    """The r12 integer-twin foundation: floor(float64(x)·2^20) must give
    the SAME int64 from (a) Spark's JVM transform, (b) numpy (the Arrow
    kernels), and (c) DuckDB (the oracles) — for negatives, exact zeros
    and float32 values alike.  The power-of-two scale makes the multiply
    exponent-only, so all three agree bit-for-bit; this is what lets
    LSH/PQ/MMR projections be order-independent exact integers."""
    import duckdb as _dd
    import numpy as np

    Q = 1 << 20
    df = spark.createDataFrame([(vec,)], "e array<float>")
    sp = df.select(
        F.transform(
            "e", lambda x: F.floor(x.cast("double") * Q).cast("long")
        ).alias("q")
    ).first().q
    f32 = np.array(vec, dtype=np.float32)
    npq = np.floor(f32.astype(np.float64) * Q).astype(np.int64).tolist()
    con = _dd.connect()
    dq = con.execute(
        "SELECT list_transform(?::FLOAT[], x -> CAST(FLOOR(CAST(x AS DOUBLE)"
        f" * {Q}) AS BIGINT))",
        [vec],
    ).fetchone()[0]
    assert sp == npq == dq, (vec, sp, npq, dq)


def test_hll_merge_tracks_exact_distinct_counts(spark):
    """Per-segment HLL estimates and the sketch-union '_merged' estimate
    must each land within 5% of the exact distinct count (lgk=12 standard
    error ~1.6%; 5% = 3 sigma)."""
    from engine.io import load
    from pyspark.sql import functions as F

    rows = engine.QUERIES["agg_hll_partitioned_merge"](spark, SF_DIR).collect()
    est = {r.segment: r.est_distinct_customers for r in rows}
    o = load(spark, SF_DIR, "orders")
    c = load(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment")
    seg = o.join(c, o.o_custkey == c.c_custkey)
    exact = {
        r.c_mktsegment: r.n
        for r in seg.groupBy("c_mktsegment")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    exact["_merged"] = seg.select("o_custkey").distinct().count()
    assert set(est) == set(exact)
    for k in exact:
        assert abs(est[k] - exact[k]) <= 0.05 * exact[k] + 2, (
            f"{k}: est {est[k]} vs exact {exact[k]}"
        )


def test_minhash_lsh_recall_on_planted_pairs(spark):
    """Banded LSH must surface EVERY planted near-copy (d, d+100000).

    Pins the r2-advisor bug (ADVICE.md #1): without `% P` inside the min,
    all 16 min-hashes are monotone functions of the single minimum shingle
    hash and banding degenerates to 1-hash LSH, silently dropping pairs
    whose appended ' zz yy' shingle becomes the new argmin.  With a real
    universal family, miss probability per pair is (1-J^4)^4 ≈ 3e-5 at
    J≈0.98 (the corpus' doc lengths) — all 500 must appear.
    """
    rows = engine.QUERIES["dedup_minhash_near"](spark, SF_DIR).collect()
    pairs = {(r.doc_a, r.doc_b) for r in rows}
    missing = [d for d in range(500) if (d, d + 100_000) not in pairs]
    assert not missing, f"LSH missed {len(missing)} planted pairs: {missing[:10]}"
    # every surfaced pair passed the exact-Jaccard >= 0.5 verify
    assert all(r.jaccard >= 0.5 for r in rows)


def test_simhash_recall_on_planted_pairs(spark):
    """32-bit banded SimHash (hamming<=3 gate) recalls most planted
    near-copies; the docstring's measured figure is 438/500 — pin a
    floor well under it so hash/band regressions (e.g. a degenerate
    signature) trip the test without making it flaky."""
    rows = engine.QUERIES["dedup_simhash"](spark, SF_DIR).collect()
    pairs = {(r.doc_a, r.doc_b) for r in rows}
    recall = sum((d, d + 100_000) in pairs for d in range(500))
    assert recall >= 400, f"simhash recall collapsed: {recall}/500"
    assert all(r.hamming <= 3 for r in rows)


def test_simhash_polyhash_recall_on_planted_pairs(spark):
    """The oracle-able Karp-Rabin SimHash recalls the planted
    near-copies at parity with the xxhash sibling (measured 434/500 vs
    438 at sf0.01) — pins that the polyhash universal family actually
    decorrelates bits (a degenerate family, e.g. dropping the % M31
    inside the per-bit hash, collapses recall or explodes candidates)."""
    rows = engine.QUERIES["dedup_simhash_polyhash"](spark, SF_DIR).collect()
    pairs = {(r.doc_a, r.doc_b) for r in rows}
    recall = sum((d, d + 100_000) in pairs for d in range(500))
    assert recall >= 400, f"polyhash simhash recall collapsed: {recall}/500"
    assert len(rows) <= 1500, f"candidate explosion: {len(rows)} pairs"
    assert all(r.hamming <= 3 for r in rows)


def test_minhash_polyhash_recall_on_planted_pairs(spark):
    """The oracle-able Karp-Rabin MinHash+LSH (dedup_minhash_polyhash)
    recalls the planted near-copies (d, d+100000) at 499/500 measured —
    the one miss is doc 74 (8 shingles, J=0.8 after the 2-token append;
    per-pair miss probability (1-J⁴)⁴ ≈ 0.12 at that length, and this
    family's fixed draw lands on it, unlike the xxhash sibling's).
    Floor pinned at 490: a degenerate family (dropped % M31, monotone
    band fold) collapses recall to ~J·500 or explodes candidates."""
    rows = engine.QUERIES["dedup_minhash_polyhash"](spark, SF_DIR).collect()
    pairs = {(r.doc_a, r.doc_b) for r in rows}
    recall = sum((d, d + 100_000) in pairs for d in range(500))
    assert recall >= 490, f"KR MinHash LSH recall collapsed: {recall}/500"
    assert len(rows) <= 1500, f"candidate explosion: {len(rows)} pairs"
    # every surfaced pair passed the exact-Jaccard >= 0.5 verify
    assert all(2 * r.n_common >= r.n_a + r.n_b - r.n_common for r in rows)


def test_mm_simhash_bytes_recall_on_planted_payloads(spark):
    """Byte-gram SimHash over binary payloads recalls the planted
    6-bytes-appended copies; measured 457/500 at 12-byte grams — floor
    pinned under it, plus a candidate-volume ceiling so gram-width
    regressions that correlate unrelated payloads (4-byte grams) show
    up as a pair explosion."""
    rows = engine.QUERIES["mm_simhash_bytes"](spark, SF_DIR).collect()
    pairs = {(r.media_a, r.media_b) for r in rows}
    recall = sum((d, d + 100_000) in pairs for d in range(500))
    assert recall >= 420, f"byte-simhash recall collapsed: {recall}/500"
    assert len(rows) <= 1500, f"candidate explosion: {len(rows)} pairs"


def test_mm_simhash_polyhash_recall_on_planted_payloads(spark):
    """The hash-verified KR twin must match the xxhash sibling's recall
    class (measured 458/500 vs 457 — the family swap costs nothing) and
    stay pair-bounded.  Floors, never exact counts: fixed hash family
    (KR-LSH discipline)."""
    rows = engine.QUERIES["mm_simhash_bytes_polyhash"](spark, SF_DIR).collect()
    pairs = {(r.media_a, r.media_b) for r in rows}
    recall = sum((d, d + 100_000) in pairs for d in range(500))
    assert recall >= 420, f"KR byte-simhash recall collapsed: {recall}/500"
    assert len(rows) <= 1500, f"candidate explosion: {len(rows)} pairs"


def test_ann_recall_vs_exact_knn(spark):
    """Both ANN variants must recover most of the exact top-k neighbor
    sets (deterministic — fixed projections/centroids, no RNG).  Measured
    at sf0.01: LSH 15/25 = 60%, IVF 20/25 = 80% — low-ish because the
    synthetic embeddings are weakly clustered (best cosines ≈ 0.4, where
    random-hyperplane collision probability is only ~0.57 per bit; at a
    production near-dup threshold of ≥ 0.9 the same code gives ≈ 0.99
    recall, see engine/similarity.py).  Floors pinned under the measured
    values so a degenerate bucketing (all vectors in one bucket, empty
    probes) trips the test."""
    def nbrs(key):
        out = {}
        for r in engine.QUERIES[key](spark, SF_DIR).collect():
            out.setdefault(r.q_id, set()).add(r.neighbor_id)
        return out

    exact = nbrs("sim_knn_topk")
    # sim_ann_lsh_fixed_topk (r12, 8x4 integer planes) measured 19/25
    for key, floor in [
        ("sim_ann_lsh_topk", 0.5),
        ("sim_ivf_topk", 0.5),
        ("sim_ann_lsh_fixed_topk", 0.6),
    ]:
        approx = nbrs(key)
        assert set(approx) == set(exact), f"{key}: query set mismatch"
        hits = sum(len(approx[q] & exact[q]) for q in exact)
        total = sum(len(exact[q]) for q in exact)
        assert hits / total >= floor, f"{key}: recall {hits}/{total}"


def test_approx_aggs_track_exact(spark):
    """Rows-only approx keys get semantic floors: percentile_approx with
    accuracy=10000 must land within 1% of the exact percentile;
    approx_count_distinct (HLL++, rsd default 5%) within 10% of exact."""
    from engine.io import load
    from pyspark.sql import functions as F

    aq = {
        r.o_orderstatus: (r.med_approx, r.p95_approx)
        for r in engine.QUERIES["agg_approx_quantile"](spark, SF_DIR).collect()
    }
    exact = {
        r.o_orderstatus: (r.med, r.p95)
        for r in load(spark, SF_DIR, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.percentile("o_totalprice", 0.5).alias("med"),
            F.percentile("o_totalprice", 0.95).alias("p95"),
        )
        .collect()
    }
    for k in exact:
        for got, want in zip(aq[k], exact[k]):
            assert abs(got - want) <= 0.01 * want, f"{k}: {got} vs {want}"

    ad = {
        r.event_type: r.n_users_approx
        for r in engine.QUERIES["agg_approx_distinct"](spark, SF_DIR).collect()
    }
    ex = {
        r.event_type: r.n
        for r in load(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k in ex:
        assert abs(ad[k] - ex[k]) <= 0.10 * ex[k] + 2, f"{k}: {ad[k]} vs {ex[k]}"


def test_pipeline_corpus_clean_stage_attribution(spark):
    """Each planted failure mode must be caught by ITS stage: +300000
    junk docs → low_quality, +200000 byte copies → exact_dup, +100000
    near-copies → near_dup; originals are only ever kept or (for the
    organic near-dup pairs inside the corpus) near_dup — never dropped
    by the wrong stage."""
    rows = engine.QUERIES["pipeline_corpus_clean"](spark, SF_DIR).collect()
    status = {r.doc_id: r.status for r in rows}
    originals = [d for d in status if d < 100_000]
    assert len(status) == 4 * len(originals)  # every input doc labeled
    assert all(status[d + 300_000] == "low_quality" for d in originals)
    assert all(status[d + 200_000] == "exact_dup" for d in originals)
    assert all(status[d + 100_000] == "near_dup" for d in originals)
    assert all(status[d] in ("kept", "near_dup") for d in originals)
    kept = sum(status[d] == "kept" for d in originals)
    assert kept >= 0.75 * len(originals), f"only {kept} originals kept"


def test_connected_components_cluster_planted_dups(spark):
    rows = engine.QUERIES["dedup_connected_components"](spark, SF_DIR).collect()
    comp = {r.doc_id: r.component_id for r in rows}
    # every planted copy must land in its original's component
    assert all(comp[d] == comp[d + 100_000] for d in range(500))
    # component id is the min member id, so label ≤ id everywhere
    assert all(r.component_id <= r.doc_id for r in rows)
    # labels must be at the FIXPOINT: every component id is canonical
    # (labels itself).  A capped-out run leaves creeping labels where
    # comp[l] < l — the sf0.1 bug the star-contraction rewrite fixed.
    assert all(comp[l] == l for l in set(comp.values()))
    # sizes consistent: every member of a component reports the same size
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component_id, []).append(r.comp_size)
    assert all(len(set(v)) == 1 and len(v) == v[0] for v in by_comp.values())


def test_embedding_dedup_polyhash_planted_clusters(spark):
    """pipeline_embedding_dedup_polyhash: the exact-integer hyperplane
    gate must cluster every planted copy with its original, second-gen
    copies must form transitive 3-components, and NO organic pair may
    merge (fixed hash family → pin the planted side as a FLOOR, but the
    organic separation measured hamming ≥ 4 vs gate 2, so zero merges
    is a margin claim, not a tail claim)."""
    rows = engine.QUERIES["pipeline_embedding_dedup_polyhash"](
        spark, SF_DIR
    ).collect()
    comp = {r.vec_id: r.component_id for r in rows}
    n = sum(1 for v in comp if v < 10_000)
    assert len(rows) == 2 * n + (n + 4) // 5
    # recall floor on planted first-gen copies (KR-LSH discipline:
    # floors, never all-N, for fixed hash families)
    hits = sum(1 for d in range(n) if comp.get(d + 10_000) == comp[d])
    assert hits >= 0.98 * n, f"first-gen recall {hits}/{n}"
    hits2 = sum(
        1 for d in range(0, n, 5) if comp.get(d + 20_000) == comp[d]
    )
    assert hits2 >= 0.98 * ((n + 4) // 5), f"second-gen recall {hits2}"
    # no organic merges: each component contains exactly one original
    by_comp = {}
    for v, c in comp.items():
        if v < 10_000:
            by_comp.setdefault(c, 0)
            by_comp[c] += 1
    assert all(k == 1 for k in by_comp.values()), "organic originals merged"
    # kept flag marks exactly the min member
    for r in rows:
        assert r.kept == (1 if r.vec_id == r.component_id else 0)


def test_temperature_mixture_quota_invariants(spark):
    """Hamilton apportionment must hand out exactly the target (40% of
    docs), never exceed a stratum's population, and boost the tail:
    the sampled FRACTION of the rarest language must exceed the most
    common one's (that's what temperature < 1 is for)."""
    rows = engine.QUERIES["sample_temperature_mixture"](spark, SF_DIR).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, (r.n_lang, r.quota))
    assert len(rows) == sum(q for _, q in by_lang.values())
    n_total = sum(n for n, _ in by_lang.values())
    assert len(rows) == n_total * 2 // 5
    assert all(q <= n for n, q in by_lang.values())
    big = max(by_lang.values())  # (n_lang, quota) — max by population
    small = min(by_lang.values())
    assert small[1] / small[0] > big[1] / big[0], (
        f"temperature failed to boost the tail: {by_lang}"
    )


def test_cross_source_matrix_planted_mirror_only(spark):
    """Only the planted mirror source shares content with the natural
    sources (corpus texts are unique), and each shared count equals the
    source's doc_id%7==0 population."""
    rows = engine.QUERIES["dedup_cross_source_matrix"](spark, SF_DIR).collect()
    assert all(r.source_a == "mirror" for r in rows), rows[:5]
    expected = {
        (rr.source, rr.n): None
        for rr in load(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {(r.source_b, r.n_shared) for r in rows}
    assert got == set(expected), (sorted(got), sorted(expected))


def test_mmr_fixed_greedy_invariants(spark):
    """sim_mmr_fixed_diversify: exactly k=5 distinct picks per query;
    rank-1 is the relevance argmax (empty chosen set → score is pure
    7·rel, so the first pick must be the shortlist top); marginal
    scores never increase with rank (the max-sim penalty is monotone
    in the growing chosen set and rel is fixed per candidate... the
    SELECTED sequence's scores are non-increasing because a later pick
    was available—and not chosen—earlier at a score ≤ the winner's)."""
    rows = engine.QUERIES["sim_mmr_fixed_diversify"](spark, SF_DIR).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3, 4, 5]
        assert len({r.vec_id for r in rs}) == 5
        scores = [r.mmr_score for r in rs]
        assert scores == sorted(scores, reverse=True), (q, scores)


def test_pack_bin_firstfit_invariants(spark):
    """FFD packing: capacity respected (except oversize singletons),
    token conservation, deterministic across runs, and never looser
    than the cumsum-chunk baseline's bin count per source."""
    rows = engine.QUERIES["pack_bin_firstfit"](spark, SF_DIR).collect()
    cap = 512
    by_bin: dict[tuple, int] = {}
    for r in rows:
        by_bin[(r.source, r.bin_id)] = by_bin.get((r.source, r.bin_id), 0) + r.n_tok
    docs_per_bin: dict[tuple, int] = {}
    for r in rows:
        docs_per_bin[(r.source, r.bin_id)] = (
            docs_per_bin.get((r.source, r.bin_id), 0) + 1
        )
    for r in rows:
        # reported fill equals the bin's actual token sum
        assert r.bin_fill == by_bin[(r.source, r.bin_id)]
        # capacity holds unless the bin is a single oversize doc
        if r.bin_fill > cap:
            assert docs_per_bin[(r.source, r.bin_id)] == 1 and r.n_tok > cap
    # conservation: every doc packed exactly once
    assert len({r.doc_id for r in rows}) == len(rows)
    # FFD is at least as tight as ceiling(total/cap) lower bound allows
    # and no source uses more bins than one-doc-per-bin
    import math

    per_source: dict[str, list] = {}
    for r in rows:
        per_source.setdefault(r.source, []).append(r)
    for src, rs in per_source.items():
        n_bins = len({r.bin_id for r in rs})
        total = sum(r.n_tok for r in rs)
        assert n_bins >= math.ceil(total / cap) - sum(r.n_tok > cap for r in rs)
        assert n_bins <= len(rs)
        # bins numbered densely from 0
        assert {r.bin_id for r in rs} == set(range(n_bins))
    # determinism
    again = engine.QUERIES["pack_bin_firstfit"](spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_pq_adc_recall_vs_exact_l2(spark):
    """PQ/ADC with exact re-rank must recover most exact-L2 top-5 sets
    (deterministic: fixed init + bounded Lloyd, no RNG).  Measured 88%
    at sf0.01; raw ADC@5 without the re-rank stage is only 20% on this
    weakly-clustered corpus (quantization error ~23% of mean pair
    distance), which is exactly why the key ships the two-stage shape.
    Floor pinned under the measurement so a degenerate codebook (empty
    clusters collapsing, mis-indexed ADC tables) trips the test."""
    import numpy as np

    rows = engine.QUERIES["sim_pq_adc_topk"](spark, SF_DIR).collect()
    approx: dict[int, set] = {}
    for r in rows:
        approx.setdefault(r.q_id, set()).add(r.neighbor_id)
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in engine.io.load(spark, SF_DIR, "embeddings").collect()
    }
    ids = sorted(emb)
    X = np.stack([emb[i] for i in ids])
    hits = tot = 0
    for q in sorted(approx):
        assert len(approx[q]) == 5
        d = ((X - emb[q]) ** 2).sum(axis=1)
        order = sorted(range(len(ids)), key=lambda j: (d[j], ids[j]))
        exact = [ids[j] for j in order if ids[j] != q][:5]
        hits += len(approx[q] & set(exact))
        tot += 5
    assert hits / tot >= 0.6, f"PQ recall {hits}/{tot}"


def test_bpe_train_merges_match_independent_impl(spark, duck):
    """The learned merge table must equal an independent BPE trainer run
    on DuckDB's word counts (same spec, separate code): corpus-scale
    word count in Spark, merge loop on the vocab — any loss of words in
    the groupBy, wrong tiebreak, or partial merge application diverges
    within the first few ranks."""
    got = sorted(
        map(tuple, engine.QUERIES["text_bpe_train_merges"](spark, SF_DIR).collect())
    )
    wc = duck.execute(
        "SELECT t.tok, COUNT(*) FROM documents d, "
        "UNNEST(list_filter(string_split(lower(d.text), ' '), x -> x <> ''))"
        " AS t(tok) GROUP BY t.tok"
    ).fetchall()
    seqs = {tuple(w) + ("</w>",): c for w, c in wc}
    want = []
    for rank in range(8):
        pairs = {}
        for s, c in seqs.items():
            for i in range(len(s) - 1):
                pairs[s[i], s[i + 1]] = pairs.get((s[i], s[i + 1]), 0) + c
        best = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        (la, rb), cnt = best
        want.append((rank, la, rb, la + rb, cnt))
        new = {}
        for s, c in seqs.items():
            r, i = [], 0
            while i < len(s):
                if i < len(s) - 1 and (s[i], s[i + 1]) == (la, rb):
                    r.append(la + rb)
                    i += 2
                else:
                    r.append(s[i])
                    i += 1
            new[tuple(r)] = new.get(tuple(r), 0) + c
        seqs = new
    assert got == sorted(want)


def test_cms_overestimates_and_ranks_heavies(spark):
    """Count-min guarantees: est ≥ exact always; overshoot ≤ εN with
    ε = e/w (deterministic hashes, so the measured slack — 0 at sf0.01
    — is reproducible; the bound is pinned loosely).  Every planted
    heavy key must outrank every organic candidate."""
    rows = engine.QUERIES["agg_cms_heavy_hitters"](spark, SF_DIR).collect()
    assert all(r.overcount >= 0 for r in rows)
    total = engine.io.load(spark, SF_DIR, "events").count()
    assert all(r.overcount <= 0.02 * total for r in rows)
    heavies = [r for r in rows if r.key >= 1_000_000]
    organic = [r for r in rows if r.key < 1_000_000]
    assert len(heavies) == 5 and organic
    assert min(h.est_count for h in heavies) > max(o.est_count for o in organic)


def test_pipeline_embedding_dedup_clusters_planted_copies(spark):
    """Every planted perturbed copy (vec_id+10000, cosine ≈ 0.9998 to
    its original) must land in its original's component; the ≥ 0.999
    verify gate must keep the weakly-clustered organic vectors apart
    (max organic cosine ≈ 0.4), so every component is exactly the
    {original, copy} pair and the kept set is exactly the originals."""
    rows = engine.QUERIES["pipeline_embedding_dedup"](spark, SF_DIR).collect()
    comp = {r.vec_id: r.component_id for r in rows}
    originals = [v for v in comp if v < 10_000]
    assert len(rows) == 2 * len(originals)
    for v in originals:
        assert comp[v + 10_000] == comp[v] == v
    for r in rows:
        assert r.comp_size == 2
        assert r.kept == (1 if r.vec_id < 10_000 else 0)


def test_quantile_drift_bands_hold_gk_contract(spark):
    # GK sketch rank-error contract: accuracy=100 ⇒ approx p50 within the
    # exact [p48, p52] band; accuracy=10000 ⇒ within [p49.5, p50.5].  The
    # drift report's flags encode exactly that; every group must pass,
    # and the finer sketch's drift can never exceed the coarse band.
    rows = engine.QUERIES["agg_quantile_drift"](spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.p50_lo_in_band == 1, r
        assert r.p50_hi_in_band == 1, r
        assert r.p50_drift_hi_e6 >= 0 and r.p50_drift_lo_e6 >= 0


def test_mmr_diversify_invariants(spark):
    """sim_mmr_diversify (rows-only): integer-MMR selection must be
    (a) 5 ranks per query over the vec_id >= 3 candidate pool,
    (b) rank 1 = pure relevance argmax (MMR with an empty chosen set),
    (c) non-increasing mmr_score with rank (greedy-argmax property:
        each candidate's score only decays as the chosen set grows),
    (d) bit-stable across two runs (the all-integer objective)."""
    rows = engine.QUERIES["sim_mmr_diversify"](spark, SF_DIR).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    exact = {}
    for r in engine.QUERIES["sim_knn_topk"](spark, SF_DIR).collect():
        # rank-1 exact neighbor per query (same bp pinning, same
        # tie-break on neighbor_id)
        if r.rn == 1:
            exact[r.q_id] = r.neighbor_id
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3, 4, 5]
        assert len({r.vec_id for r in rs}) == 5
        assert all(r.vec_id >= 3 for r in rs)
        if q in exact and exact[q] >= 3:
            assert rs[0].vec_id == exact[q], f"q{q}: rank-1 not argmax"
        scores = [r.mmr_score for r in rs]
        assert scores == sorted(scores, reverse=True), f"q{q}: not decaying"
    again = engine.QUERIES["sim_mmr_diversify"](spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_gaps_islands_partition_active_days(spark):
    """Islands must exactly PARTITION each user's active-day set:
    lengths sum to the distinct active days, spans are internally
    consecutive (len == end-start+1), and islands of one user never
    overlap (sorted starts strictly follow the previous end + a gap
    of >= 2 days)."""
    rows = engine.QUERIES["win_gaps_islands"](spark, SF_DIR).collect()
    active = (
        load(spark, SF_DIR, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .groupBy("user_id")
        .count()
        .collect()
    )
    per_user_days = {r.user_id: r["count"] for r in active}
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
        assert (r.end_day - r.start_day).days + 1 == r.len_days
    assert set(by_user) == set(per_user_days)
    for u, isl in by_user.items():
        assert sum(r.len_days for r in isl) == per_user_days[u]
        isl.sort(key=lambda r: r.start_day)
        for a, b in zip(isl, isl[1:]):
            assert (b.start_day - a.end_day).days >= 2, f"user {u}: islands touch"


def test_triangle_counts_sum_divisible_by_three(spark):
    """Each triangle contributes exactly one count to each of its three
    corners, so the per-node counts must sum to 3x the triangle total,
    and every reported node participates at least once."""
    rows = engine.QUERIES["graph_triangle_count"](spark, SF_DIR).collect()
    total = sum(r.n_tri for r in rows)
    assert total > 0 and total % 3 == 0
    assert all(r.n_tri >= 1 for r in rows)
    assert all(r.node_id % 5 == 0 for r in rows)  # the declared node subset


def test_pagerank_mass_and_floor_bounds(spark):
    """Integer-ppm PageRank invariants: every rank >= the teleport
    base (a node always keeps 0.15/N mass), total rank mass stays
    within the floor-leak band, and triangle corners are PageRank
    vertices (same edge graph).

    The leak bound is derived, not eyeballed: per iteration, the
    contribution floors lose at most sum_u (d_u - 1) = 2E - N ppm
    (r_u mod d_u per node), the damping floor < 1 ppm per node (N)
    and the teleport base floor < 1 ppm per node (N) — so total >=
    M - iters*(2E + N) - N (the trailing N covers the r0 = M//N
    init).  Bound computed from the ACTUAL edge count so a corpus
    roll or threshold change that densifies the graph rescales the
    band instead of failing a healthy engine."""
    from engine.similarity import _PR_ITERS, _PR_M, _cos_block_edges

    rows = engine.QUERIES["graph_pagerank_bounded"](spark, SF_DIR).collect()
    n = len(rows)
    assert n > 0
    base = (15 * _PR_M) // (100 * n)
    assert all(r.rank_ppm >= base for r in rows)
    e_cnt = _cos_block_edges(spark, SF_DIR).count()
    total = sum(r.rank_ppm for r in rows)
    assert _PR_M - _PR_ITERS * (2 * e_cnt + n) - n <= total <= _PR_M
    tri_nodes = {r.node_id for r in
                 engine.QUERIES["graph_triangle_count"](spark, SF_DIR).collect()}
    assert tri_nodes <= {r.node for r in rows}  # triangle corners are vertices


def test_compaction_file_count_contract(spark):
    """sink_compact_small_files: the fragmented write must leave many
    data files and the compacted copy few (64 splits -> <= 4), with
    row counts preserved — the file-count half of the contract the
    oracle's value equality cannot see."""
    import glob
    import os

    from engine.core import scratch_path

    engine.QUERIES["sink_compact_small_files"](spark, SF_DIR).collect()
    frag = glob.glob(os.path.join(scratch_path("compact_fragmented"), "part-*"))
    comp = glob.glob(os.path.join(scratch_path("compact_output"), "part-*"))
    assert len(frag) > 16, f"fragmented write produced {len(frag)} files"
    assert 1 <= len(comp) <= 4, f"compacted write produced {len(comp)} files"
    n_src = load(spark, SF_DIR, "documents").count()
    n_comp = spark.read.parquet(scratch_path("compact_output")).count()
    assert n_src == n_comp


def test_kll_quantiles_rank_error_floor(spark):
    """sketch_kll_quantiles: KLL guarantees RANK-space accuracy (not
    value space) — for each estimated quantile q̂ at target rank q, the
    fraction of values ≤ q̂ must lie within 3% of q (k=200's published
    ~1.65% bound with headroom).  Also: every estimate must be an
    actual data value (KLL returns retained items) and n must equal the
    true per-type row count (merging never loses count)."""
    from engine.io import load
    from pyspark.sql import functions as F

    est = {
        r.event_type: r
        for r in engine.QUERIES["sketch_kll_quantiles"](spark, SF_DIR).collect()
    }
    ev = load(spark, SF_DIR, "events")
    for etype, row in est.items():
        vals = ev.filter(F.col("event_type") == etype)
        n = vals.count()
        assert row.n == n, f"{etype}: sketch n {row.n} != {n}"
        for q, col in ((0.5, "p50_kll"), (0.9, "p90_kll"), (0.99, "p99_kll")):
            qhat = getattr(row, col)
            rank = vals.filter(F.col("value") <= qhat).count() / n
            assert abs(rank - q) <= 0.03, f"{etype} {col}: rank {rank} vs {q}"


def test_survival_km_curve_invariants(spark):
    """evt_survival_km: the KM curve must be a valid survival function —
    strictly within (0, 1], NON-INCREASING in gap hours, with a
    positive-event risk set that never grows as d increases, and at
    least one genuinely censored observation (n_risk at d=0 exceeds the
    total event count, else the censoring plumbing silently died).
    Oracle-independent: guards a corpus roll that makes the curve
    degenerate (the user-lifetime framing was vacuous — 0 rows — on
    this corpus; this pins the gap framing stays populated)."""
    rows = engine.QUERIES["evt_survival_km"](spark, SF_DIR).collect()
    assert len(rows) >= 10, f"KM curve degenerate: {len(rows)} event rows"
    total_events = sum(r.d_i for r in rows)
    assert rows[0].n_risk > total_events, "no censored mass in the risk set"
    prev_s, prev_n = 1_000_001, None
    for r in rows:
        assert 0 < r.surv_e6 < prev_s, f"survival not decreasing at d={r.d}"
        assert 0 < r.d_i < r.n_risk
        if prev_n is not None:
            assert r.n_risk < prev_n, f"risk set grew at d={r.d}"
        prev_s, prev_n = r.surv_e6, r.n_risk


def test_quantile_binning_equal_frequency(spark):
    """feat_quantile_binning: deciles must actually be equal-frequency —
    10 bins covering every row, each within 2% of N/10 (exact
    percentile edges can only deviate via ties at an edge), and bin
    ranges must be disjoint and ordered (max of bin k < min of bin
    k+1, modulo edge ties sharing a cent)."""
    rows = engine.QUERIES["feat_quantile_binning"](spark, SF_DIR).collect()
    assert [r.bin for r in rows] == list(range(1, 11))
    n_total = sum(r.n for r in rows)
    for r in rows:
        assert abs(r.n - n_total / 10) <= max(2, 0.02 * n_total / 10), (
            f"bin {r.bin} holds {r.n} of {n_total}"
        )
    for lo, hi in zip(rows, rows[1:]):
        assert lo.max_cents <= hi.min_cents, (
            f"bins {lo.bin}/{hi.bin} overlap: {lo.max_cents} > {hi.min_cents}"
        )


def test_setsim_prefix_filter_exact_recall(spark):
    """The prefix-filter set-similarity join is EXACT — every planted
    near-copy pair (Jaccard ≈ n/(n+2) ≥ 0.8 at ≥ 5 tokens) must appear,
    all 500/500, unlike the probabilistic MinHash/SimHash floors; and
    every emitted pair must actually clear the 0.8 gate."""
    rows = engine.QUERIES["dedup_setsim_prefix_filter"](spark, SF_DIR).collect()
    pairs = {(r.doc_a, r.doc_b) for r in rows}
    missing = [d for d in range(500) if (d, d + 100_000) not in pairs]
    assert not missing, f"prefix filter dropped planted pairs: {missing[:10]}"
    assert all(
        r.n_common * 10 >= 8 * (r.n_a + r.n_b - r.n_common) for r in rows
    )


def test_mann_whitney_matches_bruteforce_pairs(spark):
    """U from the distributed rank-sum formula must equal the O(n1·n2)
    brute-force definition U1 = #(a>b) + ties/2 computed in numpy on
    the same sf0.01 data — proves the two-phase prefix-sum ranking and
    the tie handling end to end."""
    import numpy as np

    row = engine.QUERIES["agg_mann_whitney"](spark, SF_DIR).first()
    ev = load(spark, SF_DIR, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    pdf = ev.select(cents.alias("c"), "event_type").toPandas()
    a = pdf.loc[pdf.event_type == "click", "c"].to_numpy()
    b = pdf.loc[pdf.event_type == "purchase", "c"].to_numpy()
    wins = (a[:, None] > b[None, :]).sum()
    ties = (a[:, None] == b[None, :]).sum()
    assert row.n1 == len(a) and row.n2 == len(b)
    assert row.u1_x2 == 2 * int(wins) + int(ties)


# ---------------------------------------------------------------------------
# Degenerate-corpus guards (r10 VERDICT #8): a regenerated/filtered corpus
# must never create an engine-vs-oracle divergence (ln(0), x/0, ANSI
# element_at crash) in the ratio/log keys.  One tiny crafted corpus per
# session exercises each audited edge, and each key is compared against
# its own DuckDB oracle over that corpus — the same discipline as the
# sf0.01 parity sweep, on data the real corpus never produces.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def degenerate_dir(tmp_path_factory):
    import duckdb

    d = tmp_path_factory.mktemp("degenerate_sf")
    con = duckdb.connect()
    # documents: an EMPTY doc (0 tokens) and a single-token doc — the
    # unigram-LM edge (c == n → ln(1) = 0; empty doc absent from output).
    con.execute(f"""
        COPY (
            SELECT * FROM (VALUES
                (0::BIGINT, '', 'en', 'web', 0::BIGINT),
                (1::BIGINT, 'hello', 'en', 'web', 5::BIGINT),
                (2::BIGINT, 'hello world hello', 'en', 'web', 17::BIGINT)
            ) t(doc_id, text, lang, source, n_chars)
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)
    """)
    # embeddings: 64-dim, queries 0-4; only labels 0 and 1 have any
    # candidate — queries 2-4 have ZERO relevant docs (the NDCG
    # 0-relevance edge: idcg undefined → dropped on BOTH engines).
    con.execute(f"""
        COPY (
            SELECT i AS vec_id,
                   list_transform(range(1, 65),
                       x -> CAST((i + 1) * 10 + x % 7 AS FLOAT)) AS embedding,
                   CAST(CASE WHEN i < 5 THEN i ELSE i - 5 END AS INTEGER)
                       AS label
            FROM (SELECT unnest(range(0, 7)) AS i)
        ) TO '{d}/embeddings.parquet' (FORMAT PARQUET)
    """)
    # orders: one 3-row category and one SINGLETON category (n=1 → the
    # leave-one-out denominator n-1 = 0 → NULL on both engines); all
    # orderkeys ≡ 0 (mod 37) so every row is inside the verified residue.
    con.execute(f"""
        COPY (
            SELECT * FROM (VALUES
                (0::BIGINT, 1::BIGINT, 'O', 100.10, TIMESTAMP '2024-01-01', 'P-BIG'),
                (37::BIGINT, 1::BIGINT, 'O', 200.20, TIMESTAMP '2024-01-02', 'P-BIG'),
                (74::BIGINT, 1::BIGINT, 'O', 300.30, TIMESTAMP '2024-01-03', 'P-BIG'),
                (111::BIGINT, 1::BIGINT, 'O', 400.40, TIMESTAMP '2024-01-04', 'P-SINGLETON')
            ) t(o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderdate, o_orderpriority)
        ) TO '{d}/orders.parquet' (FORMAT PARQUET)
    """)
    # events: exactly ONE click day (plus a filtered-out view) — the
    # Holt seed edge the r10 ADVICE named: ys[2] must be NULL on both
    # engines, not an ANSI INVALID_ARRAY_INDEX crash.
    con.execute(f"""
        COPY (
            SELECT * FROM (VALUES
                (1::BIGINT, TIMESTAMP '2024-03-01 10:00:00', 7::BIGINT,
                 'click', 1.5, '{{}}'),
                (2::BIGINT, TIMESTAMP '2024-03-02 11:00:00', 7::BIGINT,
                 'view', 2.5, '{{}}')
            ) t(event_id, ts, user_id, event_type, value, props)
        ) TO '{d}/events.parquet' (FORMAT PARQUET)
    """)
    con.close()
    return str(d)


@pytest.mark.parametrize(
    "key",
    [
        "evt_holt_linear",
        "text_unigram_logprob",
        "sim_ndcg_eval",
        "feat_target_encode_loo",
        # r13 keys on their edges: no qualifying eval plant (span keys
        # → empty), K > n k-means (7 vectors, 8 centroids), an EMPTY
        # doc selected for cross-lingual mirroring (no tokens → no
        # mirror row on either engine), a 2-event stream with no
        # pattern match, and a 2-node/1-edge LPA graph.
        "text_decontaminate_spans",
        "text_decontaminate_scrub",
        "dedup_crosslingual_minhash",
        "sim_kmeans_converge",
        "sim_int8_quantize_roundtrip",
        "graph_label_propagation",
        "evt_match_recognize",
        "source_delta_log_time_travel",
        "stream_match_recognize",
        "sim_kmeans_cluster_profile",
        "text_contamination_report",
    ],
)
def test_degenerate_corpus_parity(key, spark, degenerate_dir):
    import duckdb

    from tests.test_oracle_parity import _normalize

    df = engine.QUERIES[key](spark, degenerate_dir)
    proj = df.select(*sorted(df.columns))
    spark_rows = [tuple(r) for r in proj.collect()]

    con = duckdb.connect()
    for t in ["documents", "embeddings", "orders", "events"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{degenerate_dir}/{t}.parquet')"
        )
    cur = con.execute(engine.ORACLES[key])
    duck_cols = [desc[0] for desc in cur.description]
    duck_rows = cur.fetchall()
    con.close()

    assert sorted(proj.columns) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows), (
        f"{key}: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    _, s_norm = _normalize(proj.columns, spark_rows)
    _, d_norm = _normalize(duck_cols, duck_rows)
    assert s_norm == d_norm, f"{key}: degenerate-corpus divergence"


def test_degenerate_corpus_semantics(spark, degenerate_dir):
    """Beyond parity: pin the SHAPE each edge must take — NULL Holt
    trend on a 1-day series, the empty doc absent, zero-relevance
    queries dropped, singleton-category LOO NULL."""
    holt = engine.QUERIES["evt_holt_linear"](spark, degenerate_dir).first()
    assert holt.n_days == 1 and holt.level_e6 == 1_000_000
    assert holt.trend_e6 is None and holt.forecast_e6 is None

    lp = engine.QUERIES["text_unigram_logprob"](spark, degenerate_dir).collect()
    assert sorted(r.doc_id for r in lp) == [1, 2]  # empty doc 0 absent

    ndcg = engine.QUERIES["sim_ndcg_eval"](spark, degenerate_dir).collect()
    assert sorted(r.query_id for r in ndcg) == [0, 1]  # 2-4 dropped

    loo = {
        r.o_orderkey: r.loo_cents
        for r in engine.QUERIES["feat_target_encode_loo"](
            spark, degenerate_dir
        ).collect()
    }
    assert loo[111] is None  # singleton category
    assert loo[0] == (20020 + 30030) // 2


def test_incremental_minhash_verdicts(spark):
    """dedup_incremental_minhash plants all three verdicts: exact
    copies (‰3=1) MUST match their parent at jac_e6 = 1000000, novel
    docs (‰3=2) MUST have zero matches (true negatives through the
    exact-Jaccard verify), near-copies (‰3=0) recall near the
    polyhash-LSH rate.  Also pins the incremental join shape's output:
    every pair is batch-side × index-side (no index×index, no
    batch×batch)."""
    rows = engine.QUERIES["dedup_incremental_minhash"](spark, SF_DIR).collect()
    assert all(r.batch_id >= 100_000 and r.index_id < 100_000 for r in rows)
    by_batch = {}
    for r in rows:
        by_batch.setdefault(r.batch_id, []).append(r)
    exact_ids = [d for d in range(500) if d % 3 == 1]
    exact_hits = [
        r
        for d in exact_ids
        for r in by_batch.get(d + 100_000, [])
        if r.index_id == d
    ]
    assert len(exact_hits) == len(exact_ids), "exact copy missed"
    assert all(r.jac_e6 == 1_000_000 for r in exact_hits)
    novel_ids = [d + 100_000 for d in range(500) if d % 3 == 2]
    assert not any(n in by_batch for n in novel_ids), "novel doc matched"
    near = sum(
        any(r.index_id == d for r in by_batch.get(d + 100_000, []))
        for d in range(500)
        if d % 3 == 0
    )
    assert near >= 160, f"near-copy recall collapsed: {near}/167"


def test_pipeline_corpus_clean_polyhash_stage_attribution(spark):
    """The hash-verified pipeline twin catches each planted failure
    mode at ITS stage, like the xxhash sibling — except the KR LSH's
    known short-doc band-miss tail (dedup_minhash_polyhash recall
    499/500), so the near-dup planting gets a floor instead of
    all-500: every +100000 doc is near_dup or (rarely) kept, ≥490
    near_dup."""
    rows = engine.QUERIES["pipeline_corpus_clean_polyhash"](
        spark, SF_DIR
    ).collect()
    status = {r.doc_id: r.status for r in rows}
    originals = [d for d in status if d < 100_000]
    assert len(status) == 4 * len(originals)  # every input doc labeled
    assert all(status[d + 300_000] == "low_quality" for d in originals)
    assert all(status[d + 200_000] == "exact_dup" for d in originals)
    near = sum(status[d + 100_000] == "near_dup" for d in originals)
    assert near >= 490, f"KR near-dup stage collapsed: {near}/500"
    assert all(
        status[d + 100_000] in ("near_dup", "kept") for d in originals
    )
    assert all(status[d] in ("kept", "near_dup") for d in originals)
    kept = sum(status[d] == "kept" for d in originals)
    assert kept >= 0.75 * len(originals), f"only {kept} originals kept"


@_hyp
@given(
    toks=st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=127
            ),
            min_size=1,
            max_size=8,
        ),
        min_size=0,
        max_size=12,
    )
)
def test_kr_shingles_match_python_reference(spark, toks):
    """The Karp-Rabin shingle kernel (engine.dedup._kr_shingles) must
    equal a direct Python evaluation of its published definition —
    per-token char fold (h*31+ord(c)) mod p40, reduced mod M31, then
    base-131 3-token combine mod M31, distinct per doc.  Six
    hash-verified keys (simhash/setsim/minhash/incremental/calibration/
    pipeline polyhash) and their DuckDB twins all assume exactly these
    constants; a silent drift in either engine breaks them as a family.
    Fixed rows beside the generated doc pin the kernel's edge cases: a
    NULL text and a 2-token doc yield no rows, and runs of spaces yield
    no empty tokens."""
    from engine.dedup import _FP_MOD, _M31, _kr_shingles

    fixed = [(2, None), (3, "one two"), (4, "  a  b "), (5, "  a  b  c ")]
    rows = [(1, " ".join(toks))] + fixed

    def fold(tok):
        h = 0
        for c in tok:
            h = (h * 31 + ord(c)) % _FP_MOD
        return h % _M31

    def shingles(text):
        if text is None:
            return set()
        # mirror engine.dedup._tokens: lower + split on single spaces,
        # dropping empties
        th = [fold(t.lower()) for t in text.split(" ") if t]
        return {
            (((th[i] * 131 + th[i + 1]) % _M31) * 131 + th[i + 2]) % _M31
            for i in range(len(th) - 2)
        }

    expected = {(i, sh) for i, text in rows for sh in shingles(text)}
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r.doc_id, r.sh) for r in _kr_shingles(corpus).collect()]
    assert len(got) == len(set(got)), "kernel emitted duplicate shingles"
    assert set(got) == expected, f"KR drift: {set(got) ^ expected}"


def test_decontaminate_spans_recover_planted_slices(spark):
    # Every planted eval item (doc_id % 53 == 0, >= 25 tokens) is a
    # verbatim token slice [s, s+L) of its origin doc — the span finder
    # must recover the ORIGIN at the exact offsets with the full length,
    # and every reported span_text must equal the eval-side slice it
    # claims to match (position-exactness, not just set overlap).
    rows = engine.QUERIES["text_decontaminate_spans"](spark, SF_DIR).collect()
    assert rows, "no spans found — plant broken"
    by_pair = {(r.t_doc, r.eval_id): r for r in rows}
    d = load(spark, SF_DIR, "documents")
    toks = {
        r.doc_id: [t for t in r.text.lower().split(" ") if t]
        for r in d.filter((F.col("doc_id") % 53 == 0)).collect()
    }
    planted = 0
    for doc_id, t in toks.items():
        if len(t) < 25:
            continue
        planted += 1
        s = doc_id % 7 + 2
        length = 12 + doc_id % 5
        r = by_pair[(doc_id, doc_id)]
        assert r.t_start == s and r.e_start == 1
        assert r.span_len >= length  # maximal: may extend past the slice
        assert r.span_text.split(" ")[: r.span_len] == t[
            r.t_start - 1 : r.t_start - 1 + r.span_len
        ]
    assert planted >= 5
    # no chance spans: everything reported is >= the threshold, and the
    # organic (non-planted) background of this corpus never reaches it
    assert all(r.span_len >= 8 for r in rows)


def test_kmeans_converge_margin_and_idempotence(spark):
    # Corpus-roll tripwire: the unrolled oracle is only correct while
    # the coreset Lloyd CONVERGES within _KM_UNROLL rounds — fail early
    # (with headroom) if a regenerated corpus pushes the convergence
    # round toward the cap, rather than letting the key start raising.
    from engine.core import collect_model_artifact
    from engine.similarity import (
        _KM_A, _KM_B, _KM_CORE, _KM_P, _KM_SCALE, _KM_UNROLL, _km_train,
    )

    e = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    h = ((F.col("vec_id") % _KM_P) * _KM_A + _KM_B) % _KM_P
    core = e.orderBy(h.asc(), F.col("vec_id").asc()).limit(_KM_CORE)
    C, cids, rnd = _km_train(collect_model_artifact(core))
    assert rnd <= _KM_UNROLL - 6, (
        f"convergence round {rnd} is within 6 of the unroll cap "
        f"{_KM_UNROLL} — raise _KM_UNROLL before the corpus drifts past it"
    )
    # converged model: one more Lloyd step is the identity (this is the
    # property that makes the unrolled oracle exact for ANY depth >= rnd)
    import numpy as np

    rows = collect_model_artifact(core)
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    order = np.argsort(ids)
    X = np.floor(
        np.stack([np.asarray(rows[i]["embedding"], dtype=np.float64)
                  for i in order]) * _KM_SCALE
    ).astype(np.int64)
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    pick = np.lexsort((np.broadcast_to(cids, d2.shape), d2), axis=1)[:, 0]
    lab = cids[pick]
    for c in cids:
        m = lab == c
        s = X[m].sum(axis=0)
        step = np.sign(s) * (np.abs(s) // int(m.sum()))
        assert (step == C[cids == c][0]).all()


def test_crosslingual_minhash_recovers_all_planted_translations(spark):
    # Every planted translation (doc_id % 11 == 0, >= 3 tokens so a
    # shingle exists) must come back as (origin, origin + 100000) with
    # EXACT Jaccard 1 on the normalized stream and differing lang tags —
    # recovery is deterministic (identical normalized sets ⇒ every band
    # matches), so this is an equality check, not a recall floor.
    rows = engine.QUERIES["dedup_crosslingual_minhash"](spark, SF_DIR).collect()
    got = {(r.doc_a, r.doc_b): r for r in rows}
    d = load(spark, SF_DIR, "documents")
    origins = [
        r.doc_id
        for r in d.filter(F.col("doc_id") % 11 == 0).collect()
        if len([t for t in r.text.lower().split(" ") if t]) >= 3
    ]
    assert origins
    for o in origins:
        r = got[(o, o + 100_000)]
        assert r.jac_e6 == 1_000_000 and r.n_common == r.n_a == r.n_b
        assert r.lang_a != r.lang_b
    # the foreign surface forms never collide back into the corpus
    # vocabulary (the lexicon join is the only path to normalization)
    assert all(r.lang_a != r.lang_b for r in rows)


def test_label_propagation_partition_invariants(spark):
    rows = engine.QUERIES["graph_label_propagation"](spark, SF_DIR).collect()
    assert rows
    nodes = {r.node for r in rows}
    assert len(nodes) == len(rows)  # exactly one label per node
    # labels are node ids (propagation never invents labels) and csize
    # is the exact size of each label group
    from collections import Counter
    sizes = Counter(r.label for r in rows)
    assert all(r.label in nodes for r in rows)
    assert all(sizes[r.label] == r.csize for r in rows)
    # at least one non-singleton community forms on the block graph
    assert max(sizes.values()) >= 2


def test_int8_quantize_error_bound(spark):
    # Rounding to the nearest int8 level bounds per-component error by
    # amax/254, so MSE <= (amax/254)^2 — the quantizer-correctness
    # bound the hash comparison can't express.
    rows = engine.QUERIES["sim_int8_quantize_roundtrip"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.q_l1 <= 127 * 64
        amax = r.amax_e6 / 1e6
        assert 0 <= r.mse_e9 <= (amax / 254) ** 2 * 1e9 + 1


def test_decontaminate_scrub_masks_exactly_leaked_positions(spark):
    spans = {
        (r.t_doc, r.t_start, r.span_len)
        for r in engine.QUERIES["text_decontaminate_spans"](spark, SF_DIR).collect()
    }
    covered = {}
    for doc, start, length in spans:
        covered.setdefault(doc, set()).update(range(start, start + length))
    rows = engine.QUERIES["text_decontaminate_scrub"](spark, SF_DIR).collect()
    assert {r.doc_id for r in rows} == set(covered)
    orig = {
        r.doc_id: [t for t in r.text.lower().split(" ") if t]
        for r in load(spark, SF_DIR, "documents")
        .filter(F.col("doc_id").isin(*covered))
        .collect()
    }
    for r in rows:
        toks = r.scrubbed_text.split(" ")
        assert r.n_tokens == len(orig[r.doc_id]) == len(toks)
        assert r.n_leaked == len(covered[r.doc_id])
        for i, (got, want) in enumerate(zip(toks, orig[r.doc_id]), start=1):
            if i in covered[r.doc_id]:
                assert got == "[removed]"
            else:
                assert got == want  # clean remainder untouched


def test_match_recognize_agrees_with_bruteforce_scan(spark):
    # Python NFA replay of `view click* purchase` per user vs the
    # windowed compilation — exact match set, counts, and gaps.
    out = {
        (r.user_id, r.start_event_id): (r.end_event_id, r.n_clicks_between)
        for r in engine.QUERIES["evt_match_recognize"](spark, SF_DIR)
        .filter(F.col("user_id") < 10)
        .collect()
    }
    ev = (
        load(spark, SF_DIR, "events")
        .filter(F.col("user_id") < 10)
        .select("user_id", "event_id", "ts", "event_type")
        .collect()
    )
    streams = {}
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        streams.setdefault(r.user_id, []).append(r)
    want = {}
    for uid, rows in streams.items():
        for i, r in enumerate(rows):
            if r.event_type != "view":
                continue
            clicks = 0
            for s in rows[i + 1:]:
                if s.event_type == "click":
                    clicks += 1
                    continue
                if s.event_type == "purchase":
                    want[(uid, r.event_id)] = (s.event_id, clicks)
                break
    assert out == want and want


def test_delta_log_time_travel_snapshots(spark):
    rows = engine.QUERIES["source_delta_log_time_travel"](spark, SF_DIR).collect()
    v0 = {r.doc_id for r in rows if r.version == 0}
    v1 = {r.doc_id for r in rows if r.version == 1}
    assert v0 and v1
    assert all(d % 3 in (0, 1) for d in v0)
    assert all(d % 3 in (1, 2) for d in v1)
    # the file B rows survive the version transition untouched; the
    # removed file A's rows are gone from v1 but its parquet remains on
    # disk (immutable file set + log replay = time travel)
    assert {d for d in v0 if d % 3 == 1} == {d for d in v1 if d % 3 == 1}
    import os, tempfile
    # staged_build_once path (the key migrated off the old
    # spark_graft_io/delta_log_table location in r13; the stale path
    # only existed as a leftover on long-lived boxes)
    table = os.path.join(
        tempfile.gettempdir(), "spark_graft_staging",
        f"delta_log_table_{os.path.basename(os.path.normpath(SF_DIR))}",
    )
    assert os.path.exists(os.path.join(table, "part-A.parquet"))


def test_stream_match_recognize_carries_state_across_batches(spark):
    # Equality with the batch key is hash-proven by the shared oracle;
    # here: at least one emitted match must SPAN the two time-ordered
    # microbatches (view <= mid < purchase) — i.e. the open candidate
    # genuinely crossed a batch boundary through state.
    rows = engine.QUERIES["stream_match_recognize"](spark, SF_DIR).collect()
    assert rows
    ev = load(spark, SF_DIR, "events").select("event_id", "ts").collect()
    us = {r.event_id: int(r.ts.timestamp() * 1_000_000) for r in ev}
    lo, hi = min(us.values()), max(us.values())
    mid = lo + (hi - lo) // 2
    spanning = [
        r for r in rows
        if us[r.start_event_id] <= mid < us[r.end_event_id]
    ]
    assert spanning, "no match crossed the microbatch boundary — state carry untested"


def test_contamination_report_full_coverage_of_planted_evals(spark):
    # Every planted eval item is a verbatim slice of its origin, so its
    # coverage must be EXACTLY 100% (10000 bp) and max_span >= its
    # planted length; n_train_docs >= 1 (the origin).
    rows = engine.QUERIES["text_contamination_report"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.eval_len == 12 + r.eval_id % 5
        assert r.cov_tokens == r.eval_len and r.coverage_bp == 10000
        assert r.max_span >= r.eval_len and r.n_train_docs >= 1


def test_kcore_margin_and_nontrivial(spark):
    # the peel CONVERGES well inside the unroll cap (headroom 6, the
    # kmeans-margin discipline) — fail early if a regenerated corpus
    # pushes the peel depth toward the cap rather than letting the key
    # start raising — and the sf0.01 3-core is NON-TRIVIAL (an empty
    # core would make the oracle pass vacuously).
    from engine.similarity import _KCORE_K, _KCORE_UNROLL, _cos_block_edges

    E = {(r.src, r.dst) for r in _cos_block_edges(spark, SF_DIR).collect()}
    nodes = {n for e in E for n in e}
    rounds = 0
    while True:
        deg: dict = {}
        for s, d in E:
            deg[s] = deg.get(s, 0) + 1
            deg[d] = deg.get(d, 0) + 1
        keep = {n for n in nodes if deg.get(n, 0) >= _KCORE_K}
        if keep == nodes:
            break
        nodes = keep
        E = {(s, d) for (s, d) in E if s in nodes and d in nodes}
        rounds += 1
        assert rounds <= _KCORE_UNROLL, "peel exceeded the unroll cap"
    assert rounds <= _KCORE_UNROLL - 6, (
        f"peel converged in {rounds} rounds, within 6 of the cap "
        f"{_KCORE_UNROLL} — raise _KCORE_UNROLL before the corpus drifts"
    )
    assert len(nodes) > 0, "sf0.01 3-core is empty — vacuous oracle"
    # converged peel is the identity (the property that makes the
    # unrolled oracle exact for ANY depth >= convergence round)
    assert all(deg[n] >= _KCORE_K for n in nodes)


def test_bm25_and_rrf_ranking_properties(spark):
    # bm25: per query ranks are 1..n consecutive and scores are
    # non-increasing along rank (tie-break never reorders scores)
    rows = engine.QUERIES["text_bm25_topk"](spark, SF_DIR).collect()
    byq: dict = {}
    for r in rows:
        byq.setdefault(r.q_id, []).append(r)
    assert len(byq) == 8
    for q, rs in byq.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        assert all(a.score_e4 >= b.score_e4 for a, b in zip(rs, rs[1:]))
    # rrf: the fused score is recomputable from the emitted ranks (0 =
    # absent from that system's top-20), and a doc ranked 1 by BOTH
    # systems must be the fusion's rank 1 (maximal attainable score)
    fused = engine.QUERIES["sim_rrf_fusion"](spark, SF_DIR).collect()
    for r in fused:
        exp = (1000000 // (60 + r.lex_rnk) if r.lex_rnk else 0) + (
            1000000 // (60 + r.vec_rnk) if r.vec_rnk else 0
        )
        assert r.rrf_e6 == exp
    for r in fused:
        if r.lex_rnk == 1 and r.vec_rnk == 1:
            assert r.frnk == 1


def test_cluster_balanced_and_ivf_upsert_accounting(spark):
    # Hamilton apportionment: quotas sum EXACTLY to the budget, and the
    # draw fills min(quota, cluster size) per cluster
    from engine.similarity import _CB_BUDGET, _km_assignment

    sel = engine.QUERIES["sample_cluster_balanced"](spark, SF_DIR).collect()
    quota = {r.cid: r.quota for r in sel}
    assert sum(quota.values()) == _CB_BUDGET
    sizes = {
        r.cid: r.n
        for r in _km_assignment(spark, SF_DIR)
        .groupBy("cid").agg(F.count("*").alias("n")).collect()
    }
    picked: dict = {}
    for r in sel:
        picked[r.cid] = picked.get(r.cid, 0) + 1
    for cid, q in quota.items():
        assert picked.get(cid, 0) == min(q, sizes[cid])
    # incremental upsert: every audit row balances (n_after - n_before
    # = that list's batch arrivals) and deltas sum to the batch size
    up = engine.QUERIES["sim_ivf_incremental_upsert"](spark, SF_DIR).collect()
    arrivals: dict = {}
    for r in up:
        arrivals[r.list_id] = arrivals.get(r.list_id, 0) + 1
    assert all(r.n_after - r.n_before == arrivals[r.list_id] for r in up)
    n_batch = (
        load(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") % 10 == 7).count()
    )
    assert len(up) == n_batch


def test_chunkers_cover_and_balance(spark):
    # sliding chunker: per doc, chunks tile [0, n_tokens) with stride-
    # width overlap and the tail clamps; manifest: per blob, chunk
    # bytes sum to the blob length and exactly one chunk is last
    from engine.text import _CHUNK_S, _CHUNK_W, _tokens

    n_tok = {
        r.doc_id: r.n
        for r in load(spark, SF_DIR, "documents")
        .select("doc_id", F.size(_tokens(F.col("text"))).alias("n"))
        .collect()
    }
    ch = engine.QUERIES["text_chunk_sliding"](spark, SF_DIR).collect()
    byd: dict = {}
    for r in ch:
        byd.setdefault(r.doc_id, []).append(r)
    assert set(byd) == set(n_tok)
    for d, rs in byd.items():
        rs.sort(key=lambda r: r.chunk_idx)
        assert [r.tok_start for r in rs] == [
            i * _CHUNK_S for i in range(len(rs))
        ]
        # every token position is inside some chunk
        covered = max(r.tok_start + r.n_chunk_tok for r in rs)
        assert covered == n_tok[d]
        assert all(r.n_chunk_tok == _CHUNK_W for r in rs[:-1])
    mf = engine.QUERIES["mm_chunk_manifest"](spark, SF_DIR).collect()
    byb: dict = {}
    for r in mf:
        byb.setdefault(r.media_id, []).append(r)
    for b, rs in byb.items():
        assert sum(r.chunk_bytes for r in rs) == rs[0].n_bytes
        assert sum(r.is_last for r in rs) == 1


def test_tar_index_matches_stdlib_tarfile(spark):
    """The strongest independent check of the r15 WebDataset keys: the
    stdlib `tarfile` reader's own member index (names, sizes, header
    offsets, data offsets) must equal our Arrow header-walk manifest
    for every staged shard — two unrelated parsers agreeing on real
    archive bytes.  Also pins hdr_ok == 1 everywhere (checksum + magic
    validation over writer-produced headers)."""
    import os
    import tarfile

    from engine.multimodal import _wds_tar_dir

    manifest = engine.QUERIES["mm_tar_index"](spark, SF_DIR).collect()
    assert manifest and all(r.hdr_ok == 1 for r in manifest)
    by_shard: dict = {}
    for r in manifest:
        by_shard.setdefault(r.shard, []).append(r)
    d = _wds_tar_dir(spark, SF_DIR)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.member_idx)
        with tarfile.open(os.path.join(d, f"shard_{shard:04d}.tar")) as tf:
            members = tf.getmembers()
        assert [m.name for m in members] == [r.name for r in rows]
        assert [m.size for m in members] == [r.data_bytes for r in rows]
        assert [m.offset for m in members] == [r.header_off for r in rows]
        assert [m.offset_data for m in members] == [r.data_off for r in rows]


def test_wds_sample_group_completeness(spark):
    """Sample assembly semantics: every corpus document becomes exactly
    one sample; samples are complete (txt+json) except exactly the
    planted doc_id % 7 == 3 residue, which ships only its .txt."""
    from engine.multimodal import _TAR_JSON_SKIP, _TAR_SHARDS

    docs = {r.doc_id for r in load(spark, SF_DIR, "documents").select("doc_id").collect()}
    rows = engine.QUERIES["mm_wds_sample_group"](spark, SF_DIR).collect()
    assert {r.sample_key for r in rows} == docs
    for r in rows:
        assert r.shard == r.sample_key % _TAR_SHARDS
        assert r.has_txt == 1  # every sample carries its payload
        expect_json = 0 if r.sample_key % 7 == _TAR_JSON_SKIP else 1
        assert r.has_json == expect_json
        assert r.complete == expect_json
        assert r.n_members == 1 + expect_json


def test_quantile_histogram_error_bound_and_mergeability(spark):
    """The two properties the mergeable histogram exists for: (1) the
    estimate's absolute error is bounded by the bin width BY
    CONSTRUCTION (target rank falls inside the chosen bin), (2) the
    per-day partial stage merges EXACTLY — summing partial bin counts
    over segments equals counting straight into bins (int64 addition is
    associative; the KLL sketch next door only has this approximately)."""
    from engine.sketches import _QH_BIN_W

    rows = engine.QUERIES["sketch_histogram_quantile_merge"](
        spark, SF_DIR
    ).collect()
    assert rows and {r.q_pct for r in rows} == {50, 90, 99}
    for r in rows:
        assert 0 <= r.abs_err_cents <= _QH_BIN_W, r

    # two-phase (day partials then merge) vs direct, as plain frames
    ev = load(spark, SF_DIR, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    base = ev.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        cents.alias("cents"),
    ).select(
        "event_type", "day", F.expr(f"cents div {_QH_BIN_W}").alias("bin")
    )
    two = (
        base.groupBy("event_type", "day", "bin")
        .agg(F.count("*").alias("cnt"))
        .groupBy("event_type", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    one = base.groupBy("event_type", "bin").agg(F.count("*").alias("cnt"))
    assert sorted(map(tuple, two.collect())) == sorted(map(tuple, one.collect()))


def test_fixed_width_parse_round_trip(spark):
    """Fixed-width reader semantics: every line is exactly the declared
    width (a torn write would shift every later field), the space-padded
    priority field rtrims back to its source value (including multi-word
    priorities), and leading-zero numerics cast cleanly."""
    from engine.io import _FW_LINE_LEN

    rows = engine.QUERIES["source_fixed_width"](spark, SF_DIR).collect()
    assert rows and all(r.line_len == _FW_LINE_LEN for r in rows)
    src = {
        r.o_orderkey: r
        for r in load(spark, SF_DIR, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .collect()
    }
    assert {r.o_orderkey for r in rows} == set(src)
    for r in rows[:50]:
        s = src[r.o_orderkey]
        assert r.o_orderpriority == s.o_orderpriority  # rtrim exact
        assert not r.o_orderpriority.endswith(" ")
        assert r.o_custkey == s.o_custkey


def test_referential_integrity_finds_planted_orphans(spark):
    """Every audited relation must FIND its planted violation class,
    and the +1e9 plants must surface as the orphan keys."""
    from engine.composite import _RI_BIG

    rows = {r.relation: r for r in
            engine.QUERIES["dq_referential_integrity"](spark, SF_DIR).collect()}
    assert set(rows) == {
        "lineitem.l_partkey->part", "lineitem.l_suppkey->supplier",
        "lineitem.l_orderkey->orders", "orders.o_custkey->customer",
        "customer.c_nationkey->nation",
    }
    for rel, r in rows.items():
        assert r.n_orphans > 0, rel  # plant exercised
        assert 0 < r.orphan_rate_e6 < 1_000_000, rel
        if "customer.c_nationkey" not in rel:
            assert r.min_orphan_key >= _RI_BIG, rel


def test_bloom_gate_no_false_negatives(spark):
    """The bloom gate's structural guarantees: an exact member's
    positions are all set (MISS_BUG never appears), every verbatim
    re-crawl is labeled dup, and hit counts stay within [0, k]."""
    from engine.dedup import _BG_K, _BG_NEW_OFFSET

    rows = engine.QUERIES["dedup_bloom_seen_gate"](spark, SF_DIR).collect()
    labels = {r.label for r in rows}
    assert "MISS_BUG" not in labels
    assert "dup" in labels and "new" in labels
    for r in rows:
        assert 0 <= r.n_pos_hits <= _BG_K
        if r.is_exact:
            assert r.label == "dup"
        if (r.new_id - _BG_NEW_OFFSET) % 3 == 0:
            assert r.label == "dup"  # verbatim re-crawl: exact + hit


def test_jaccard_neighbors_bounds(spark):
    """Neighbor-Jaccard sanity: common ≤ min(deg), jaccard in (0, 1e4],
    and pairs are canonically ordered (a < b)."""
    rows = engine.QUERIES["graph_jaccard_neighbors"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.node_a < r.node_b
        assert 2 <= r.n_common <= min(r.deg_a, r.deg_b)
        assert 0 < r.jaccard_e4 <= 10000


def test_multiprobe_recall_dominates_single_probe(spark):
    """Multi-probe's whole claim: with the SAME 4 tables, adding the
    Hamming-1 probes can only grow the candidate set, and exact-cosine
    re-ranking is monotone in the candidate set — so multiprobe top-5
    recall vs the exact ground truth must be >= the single-probe
    4-table recall (whose candidates are the flip=0 subset)."""
    import math

    from engine.io import load as _load
    from engine.similarity import _MP_TBL, _alsh_entries

    e = _load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    entries = _alsh_entries(e).filter(F.col("t") < _MP_TBL)
    qe = entries.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "t", "b"
    )
    single: dict = {}
    for r in (
        entries.join(qe, ["t", "b"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
        .collect()
    ):
        single.setdefault(r.q_id, set()).add(r.vec_id)
    exact = {
        (r.q_id, r.neighbor_id)
        for r in engine.QUERIES["sim_knn_topk"](spark, SF_DIR)
        .select("q_id", "neighbor_id")
        .collect()
    }
    mp_top = {
        (r.q_id, r.neighbor_id)
        for r in engine.QUERIES["sim_ann_lsh_multiprobe"](spark, SF_DIR)
        .select("q_id", "neighbor_id")
        .collect()
    }
    vecs = {r.vec_id: r.embedding for r in e.collect()}

    def pinned_cos(a, b):
        va, vb = vecs[a], vecs[b]
        dot = sum(float(x) * float(y) for x, y in zip(va, vb))
        na = math.sqrt(sum(float(x) * float(x) for x in va))
        nb = math.sqrt(sum(float(x) * float(x) for x in vb))
        return math.floor(dot / (na * nb) * 10000 + 0.5) / 10000

    sp_hits = 0
    for q, cands in single.items():
        top5 = sorted(((pinned_cos(q, n), -n) for n in cands), reverse=True)[:5]
        sp_hits += sum(1 for c, negn in top5 if (q, -negn) in exact)
    mp_hits = len(mp_top & exact)
    assert mp_hits >= sp_hits, (mp_hits, sp_hits)
    assert mp_hits > 0


def test_ivfpq_structural_invariants(spark):
    """Compound-index structure: every query emits exactly top-5 rows,
    ADC distances are non-negative and rank-consistent, and every
    emitted neighbor LIVES in one of the query's 2 probed lists (the
    probe ceiling — the invariant that distinguishes IVFPQ from flat
    PQ's all-vector scan)."""
    from engine.similarity import _ivf_fixed_ranked

    ranked = (
        _ivf_fixed_ranked(spark, SF_DIR)
        .select("vec_id", "cid", "crn")
        .collect()
    )
    own_list = {r.vec_id: r.cid for r in ranked if r.crn == 1}
    probed = {}
    for r in ranked:
        if r.vec_id < 5:
            probed.setdefault(r.vec_id, set()).add(r.cid)

    rows = engine.QUERIES["sim_ivfpq_adc_topk"](spark, SF_DIR).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == set(range(5))
    for q, rs in by_q.items():
        assert len(rs) == 5
        rs.sort(key=lambda r: r.rn)
        assert all(r.adc_dist >= 0 for r in rs)
        assert [r.adc_dist for r in rs] == sorted(r.adc_dist for r in rs)
        for r in rs:
            assert own_list[r.neighbor_id] in probed[q]  # probe ceiling
            assert r.neighbor_id != q


def test_tar_split_plan_covers_members_once(spark):
    """Split-plan semantics: splits within a shard tile the member
    stream without gaps or double-reads — per shard, split n_members
    sum to the manifest's member count, byte ranges are monotone
    (bytes_start ordered by split_id, each range starting inside its
    nominal 4096-byte slot), and payload_bytes reconcile with the
    manifest."""
    from engine.multimodal import _TAR_SPLIT_BYTES

    manifest = engine.QUERIES["mm_tar_index"](spark, SF_DIR).collect()
    n_members = {}
    payload = {}
    for r in manifest:
        n_members[r.shard] = n_members.get(r.shard, 0) + 1
        payload[r.shard] = payload.get(r.shard, 0) + r.data_bytes
    plan = engine.QUERIES["mm_tar_split_plan"](spark, SF_DIR).collect()
    by_shard: dict = {}
    for r in plan:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) == set(n_members)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.split_id)
        assert sum(r.n_members for r in rows) == n_members[shard]
        assert sum(r.payload_bytes for r in rows) == payload[shard]
        for r in rows:
            # a member belongs to the split its header STARTS in
            assert r.bytes_start // _TAR_SPLIT_BYTES == r.split_id
        starts = [r.bytes_start for r in rows]
        assert starts == sorted(starts)
        # CONTIGUITY: splits tile the member region without gaps — each
        # split ends exactly where the next begins (members are
        # physically contiguous, so any hole means the span formula
        # diverged from the writer's actual padding), and the final
        # split's end sits within the archive file (which may only be
        # longer by the zero-block end-of-archive padding).
        for a, b in zip(rows, rows[1:]):
            assert a.bytes_end == b.bytes_start, (a, b)
        import os

        from engine.multimodal import _wds_tar_dir

        tar_path = os.path.join(
            _wds_tar_dir(spark, SF_DIR), f"shard_{shard:04d}.tar"
        )
        size = os.path.getsize(tar_path)
        assert rows[-1].bytes_end <= size
        # tarfile end-of-archive = two zero blocks, then pad to the next
        # RECORDSIZE (10240) multiple: worst case 1024 + 10239 bytes
        assert size - rows[-1].bytes_end < 1024 + 10240


def test_keyset_page_equals_offset_page(spark):
    # the keyset fetch must slice the SAME total order the offset twin
    # walks: page 4 (rows 41-55) row-for-row identical
    ks = engine.QUERIES["limit_keyset_pagination"](spark, SF_DIR).collect()
    off = engine.QUERIES["limit_offset_pagination"](spark, SF_DIR).collect()
    assert len(ks) == 15
    assert sorted(map(tuple, ks)) == sorted(map(tuple, off))


def test_span_selfsim_verbatim_and_maximal(spark):
    # every emitted span is (1) a VERBATIM token-for-token match between
    # the two documents and (2) MAXIMAL — extending one token on either
    # side breaks the match (or falls off a document boundary).
    # Maximality holds only while no anchor gram exceeds the df skew cap
    # (a capped anchor inside a run splits it, mirrored on both engines)
    # — assert the corpus still satisfies that precondition so a regen
    # that introduces boilerplate grams fails HERE with the real cause,
    # not with a misleading "extensible span" message.
    from engine.dedup import _SSIM_DFCAP, _SSIM_W
    from engine.text import _tokens

    toks = {
        r.doc_id: r.t
        for r in load(spark, SF_DIR, "documents")
        .select("doc_id", _tokens(F.col("text")).alias("t"))
        .collect()
    }
    import collections

    df_cnt: dict = collections.Counter()
    for t in toks.values():
        for i in range(len(t) - _SSIM_W + 1):
            df_cnt[" ".join(t[i : i + _SSIM_W])] += 1
    max_df = max(df_cnt.values())
    assert max_df <= _SSIM_DFCAP, (
        f"corpus regen produced an anchor gram with df={max_df} > cap "
        f"{_SSIM_DFCAP}: the cap now splits runs — maximality assertions "
        "below would misfire; re-tune _SSIM_DFCAP or drop this gate"
    )
    rows = engine.QUERIES["dedup_span_selfsim"](spark, SF_DIR).collect()
    assert rows, "corpus has organic cross-doc repeats by construction"
    for r in rows:
        ta, tb = toks[r.doc_a], toks[r.doc_b]
        ai, bi = r.a_start - 1, r.b_start - 1  # emitted offsets are 1-based
        assert ta[ai : ai + r.span_len] == tb[bi : bi + r.span_len]
        assert r.span_text == " ".join(ta[ai : ai + r.span_len])
        if ai > 0 and bi > 0:
            assert ta[ai - 1] != tb[bi - 1], "left-extensible span"
        ae, be = ai + r.span_len, bi + r.span_len
        if ae < len(ta) and be < len(tb):
            assert ta[ae] != tb[be], "right-extensible span"


def test_hard_negative_ivf_vs_exact(spark):
    # The IVF-routed miner sees a SUBSET of the exact miner's
    # candidates (same anchor draw, same quantized-e6 scoring), so per
    # anchor: every emitted cosine is <= the exact scan's for that
    # side, and the candidate volume is strictly below the full scan's
    # N-1.  Equality of pos/neg ids when cosines match is NOT required
    # (ties broken inside different candidate sets).
    exact = {
        r.q_id: r
        for r in engine.QUERIES["sim_hard_negative_mining"](
            spark, SF_DIR
        ).collect()
    }
    ivf = engine.QUERIES["sim_hard_negative_ivf"](spark, SF_DIR).collect()
    n_vecs = load(spark, SF_DIR, "embeddings").count()
    assert {r.q_id for r in ivf} == set(exact)
    for r in ivf:
        ex = exact[r.q_id]
        assert r.q_label == ex.q_label
        assert 0 < r.n_cand < n_vecs - 1
        if r.pos_cos_e6 is not None:
            assert r.pos_cos_e6 <= ex.pos_cos_e6
        if r.neg_cos_e6 is not None:
            assert r.neg_cos_e6 <= ex.neg_cos_e6


def test_modularity_identities(spark):
    # Exact-integer modularity invariants: community degree sums
    # partition the total degree, intra ends never exceed it, global
    # Q = sum(q_num)/q_den lies in Newman's [-1/2, 1) range, and the
    # scored partition IS graph_label_propagation's partition (same
    # labels, same community sizes).
    rows = engine.QUERIES["graph_modularity_score"](spark, SF_DIR).collect()
    assert rows
    t = rows[0].t_degree
    assert all(r.t_degree == t and r.q_den == t * t for r in rows)
    assert sum(r.deg_sum for r in rows) == t
    assert sum(r.intra_ends for r in rows) <= t
    q = sum(r.q_num for r in rows) / (t * t)
    assert -0.5 <= q < 1.0
    lpa = engine.QUERIES["graph_label_propagation"](spark, SF_DIR).collect()
    csize = {}
    for r in lpa:
        csize[r.label] = r.csize
    assert {r.label: r.n_nodes for r in rows} == csize


_SESSION_MEMO_CONSUMERS = [
    ("nb_model", "text_nb_confusion"),
    ("ivf_fixed_ranked", "sim_ivf_fixed_topk"),
    ("lpa_partition", "graph_label_propagation"),
    ("selfsim_spans", "dedup_span_selfsim"),
    ("ivf_index", "sim_ivf_topk"),
]


@pytest.mark.parametrize(
    "memo,key",
    _SESSION_MEMO_CONSUMERS,
    ids=[m for m, _ in _SESSION_MEMO_CONSUMERS],
)
def test_session_memo_revalidates_after_clear_cache(spark, memo, key):
    # spark.catalog.clearCache() unregisters persisted frames UNDER a
    # core.session_memo entry: the next consumer must re-persist what
    # was lost and materialize the DEEPEST lost frame — counting a
    # deeper intact frame reads through its cache and leaves a
    # shallower lost one lazy (r16 VERDICT #3).  Rows must be identical
    # through every loss shape.
    from engine.core import _SESSION_MEMO

    def _cached(df):
        return df.storageLevel.useMemory or df.storageLevel.useDisk

    def _rows():
        return sorted(map(tuple, engine.QUERIES[key](spark, SF_DIR).collect()))

    spark.catalog.clearCache()
    memo_key = (spark.sparkContext.applicationId, memo, SF_DIR)
    _SESSION_MEMO.pop(memo_key, None)
    base = _rows()
    _, frames, _ = _SESSION_MEMO[memo_key]
    assert frames and all(map(_cached, frames))

    # full loss: clearCache drops every registration under the memo
    spark.catalog.clearCache()
    assert not any(map(_cached, frames))
    assert _rows() == base
    assert all(map(_cached, frames))

    # partial loss: only the SHALLOW frame dropped — the memo must
    # count it itself, not read through the deeper intact cache
    if len(frames) > 1:
        frames[0].unpersist(blocking=True)
        assert not _cached(frames[0]) and all(map(_cached, frames[1:]))
        assert _rows() == base
        assert all(map(_cached, frames))


def test_ivf_inverted_lists_partition_the_collection(spark):
    # sim_ivf_topk's probe join emits each (q_id, neighbor_id) pair at
    # most once only because every vector sits in exactly one inverted
    # list and a query's probed lists are distinct.
    import numpy as np

    from engine import similarity
    from engine.core import session_memo

    inverted, route = session_memo(
        spark, "ivf_index", SF_DIR,
        lambda: similarity._build_ivf_index(spark, SF_DIR),
    )
    n_vectors = load(spark, SF_DIR, "embeddings").count()
    ids = inverted.groupBy("neighbor_id").count()
    assert ids.count() == n_vectors
    assert ids.filter(F.col("count") != 1).count() == 0
    q = load(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 5).collect()
    lists = route(np.stack([np.asarray(r["embedding"]) for r in q]))
    assert all(len(set(top)) == len(top) == similarity._IVF_PROBES for top in lists)


def test_sim_ivf_topk_warm_call_collects_only_its_queries(spark, monkeypatch):
    # The IVF index is trained once per session (core.session_memo
    # "ivf_index"): a warm call collects its 5 query rows to route them
    # and no 16-row codebook, and returns the cold call's rows.
    from engine import core

    def _rows():
        return sorted(
            map(tuple, engine.QUERIES["sim_ivf_topk"](spark, SF_DIR).collect())
        )

    first = _rows()
    sizes = []
    collect = core.collect_model_artifact

    def counting(df, *args, **kwargs):
        rows = collect(df, *args, **kwargs)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(core, "collect_model_artifact", counting)
    assert _rows() == first
    assert sizes == [5]


def test_quantized_norms_nonzero(spark):
    # floor(x * _KM_SCALE) quantization makes a ZERO norm possible for a
    # vector whose components are all |x| < 1/_KM_SCALE: the cosine
    # divide then yields NaN/inf -> undefined int64 cast (Spark) vs a
    # division-by-zero path (DuckDB), silently diverging every
    # quantized-cosine key (hard_negative_mining, rrf_fusion,
    # ivf_incremental_upsert).  Assert the corpus precondition so a
    # regen fails HERE with the real cause (r16 ADVICE; the
    # _SSIM_DFCAP cap-precondition pattern).  Current corpus min
    # quantized norm-squared is ~16.7M, far from the edge.
    import numpy as np

    from engine.similarity import _KM_SCALE

    X = np.stack(
        load(spark, SF_DIR, "embeddings")
        .select("embedding")
        .toPandas()["embedding"]
        .to_numpy()
    ).astype(np.float64)
    qn2 = (np.floor(X * _KM_SCALE) ** 2).sum(axis=1)
    assert qn2.min() > 0, (
        f"corpus regen produced a vector with zero quantized norm "
        f"(min norm-sq {qn2.min()}): quantized-cosine keys now divide "
        "by zero — raise _KM_SCALE or guard the divide on both engines"
    )


def test_nb_train_apply_consistency(spark):
    # model sanity: every observed (class, term) likelihood beats the
    # unseen-term default (n_tc >= 1 => ln((n+1)/D) > ln(1/D)); priors
    # are negative and sum-to-~1 in prob space (loose: both < 0)
    model = engine.QUERIES["text_nb_train"](spark, SF_DIR).collect()
    assert model
    for r in model:
        assert r.ll_e4 > r.ll0_e4
        assert r.prior_e4 < 0 and r.ll0_e4 < 0
        assert r.n_tc >= 1
    # apply: scores recompute the emitted prediction; the distilled
    # classifier genuinely learns the stopword-ratio teacher (94/100
    # measured at sf0.01 — pin a safe floor, corpus reseeds per round)
    rows = engine.QUERIES["text_nb_apply"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.pred_hq == (1 if r.score1_e4 > r.score0_e4 else 0)
        assert r.correct == (1 if r.pred_hq == r.true_hq else 0)
    acc = sum(r.correct for r in rows) / len(rows)
    assert acc >= 0.75, f"distillation accuracy collapsed: {acc}"


def test_shard_rebalance_invariants(spark):
    # write-plan invariants: byte conservation per input shard,
    # capacity (over-target only for singleton shards), sample
    # contiguity in key order, and cut NECESSITY (next-fit never opens
    # a shard the previous one could still hold)
    from engine.multimodal import _REBAL_TARGET

    rows = engine.QUERIES["mm_shard_rebalance"](spark, SF_DIR).collect()
    assert rows
    by_in: dict = {}
    for r in rows:
        by_in.setdefault(r.shard, []).append(r)
    for shard, rs in by_in.items():
        rs.sort(key=lambda r: r.sample_key)
        seqs = [r.out_seq for r in rs]
        assert seqs == sorted(seqs), "contiguity broken"
        fills: dict = {}
        for r in rs:
            fills[r.out_seq] = fills.get(r.out_seq, 0) + r.sample_bytes
        for r in rs:
            assert r.out_bytes == fills[r.out_seq]
        for s, f in fills.items():
            n = sum(1 for r in rs if r.out_seq == s)
            assert f <= _REBAL_TARGET or n == 1
        # necessity: first sample of shard s+1 would overflow shard s
        for s in range(max(seqs)):
            first_next = [r for r in rs if r.out_seq == s + 1][0]
            assert fills[s] + first_next.sample_bytes > _REBAL_TARGET
        assert sum(r.sample_bytes for r in rs) == sum(fills.values())


def test_span_scrub_self_masks_exactly_covered_positions(spark):
    # the scrub masks EXACTLY the union of b-side span ranges reported
    # by the locate key (shared chain), preserves token counts, and
    # never touches a doc that is only ever a doc_a (first occurrence)
    spans = engine.QUERIES["dedup_span_selfsim"](spark, SF_DIR).collect()
    cov: dict = {}
    for s in spans:
        cov.setdefault(s.doc_b, set()).update(
            range(s.b_start, s.b_start + s.span_len)
        )
    out = engine.QUERIES["dedup_span_scrub_self"](spark, SF_DIR).collect()
    assert {r.doc_id for r in out} == set(cov)
    from engine.text import _tokens

    toks = {
        r.doc_id: r.t
        for r in load(spark, SF_DIR, "documents")
        .select("doc_id", _tokens(F.col("text")).alias("t"))
        .collect()
    }
    for r in out:
        scrubbed = r.scrubbed_text.split(" ")
        orig = toks[r.doc_id]
        assert len(scrubbed) == len(orig) == r.n_tokens
        hit = {i + 1 for i, t in enumerate(scrubbed) if t == "[dup]"}
        assert hit == cov[r.doc_id]
        assert r.n_removed == len(hit)
        for i, t in enumerate(scrubbed):
            if t != "[dup]":
                assert t == orig[i]


def test_nb_confusion_consistent_with_apply(spark):
    # cells sum to the holdout; every cell recomputes from the per-doc
    # verdicts; diagonal share_bp is the per-class recall
    preds = engine.QUERIES["text_nb_apply"](spark, SF_DIR).collect()
    cells = engine.QUERIES["text_nb_confusion"](spark, SF_DIR).collect()
    assert sum(c.n_cell for c in cells) == len(preds)
    import collections
    want = collections.Counter((p.true_hq, p.pred_hq) for p in preds)
    marg = collections.Counter(p.true_hq for p in preds)
    assert {(c.true_hq, c.pred_hq): c.n_cell for c in cells} == dict(want)
    for c in cells:
        assert c.n_true == marg[c.true_hq]
        assert c.share_bp == 10000 * c.n_cell // c.n_true


def test_hard_negative_mining_brute_force(spark):
    # brute-force replay: per anchor, the emitted positive is the
    # max-cosine SAME-label candidate and the negative the max-cosine
    # OTHER-label candidate (quantized pins, id tiebreak); margin
    # recomputes
    import numpy as np
    from engine.similarity import _KM_SCALE
    from engine.text import _RET_A, _RET_B, _RET_P

    rows = (
        load(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding", "label")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    labs = np.array([r.label for r in rows], dtype=np.int64)
    X = np.floor(
        np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
        * _KM_SCALE
    )
    xn = np.sqrt((X * X).sum(axis=1))
    # replicate the hash draw exactly: key = ((id % P) * A + B) % P
    key = ((ids % _RET_P) * _RET_A + _RET_B) % _RET_P
    order = np.lexsort((ids, key))[:8]
    out = engine.QUERIES["sim_hard_negative_mining"](spark, SF_DIR).collect()
    got = {r.q_id: r for r in out}
    assert len(got) == 8
    for qi in order:
        q_id, q_lab = int(ids[qi]), int(labs[qi])
        cos = np.floor(
            X @ X[qi] / (xn * xn[qi]) * 1000000 + 0.5
        ).astype(np.int64)
        m = ids != q_id
        def argbest(mask):
            cand = np.where(m & mask)[0]
            best = cand[np.lexsort((ids[cand], -cos[cand]))][0]
            return int(ids[best]), int(cos[best])
        pos_id, pos_c = argbest(labs == q_lab)
        neg_id, neg_c = argbest(labs != q_lab)
        r = got[q_id]
        assert (r.q_label, r.pos_id, r.pos_cos_e6, r.neg_id,
                r.neg_cos_e6, r.margin_e6) == (
            q_lab, pos_id, pos_c, neg_id, neg_c, pos_c - neg_c)


def test_nb_feature_importance_directions(spark):
    # The teacher keys on stopword ratio, so the learned importances
    # must recover that: the strongest low-quality-indicative terms
    # include stopwords ('the'/'a' lead at both SFs) and NO stopword
    # can be high-quality-indicative; ranks are dense 1..15 per
    # direction and ordered by the exact llr.
    from engine.text import _NB_FI_TOPK, STOPWORDS

    rows = engine.QUERIES["text_nb_feature_importance"](
        spark, SF_DIR
    ).collect()
    hq = sorted((r for r in rows if r.direction == "hq"), key=lambda r: r.rnk)
    lq = sorted((r for r in rows if r.direction == "lq"), key=lambda r: r.rnk)
    assert [r.rnk for r in hq] == list(range(1, _NB_FI_TOPK + 1))
    assert [r.rnk for r in lq] == list(range(1, _NB_FI_TOPK + 1))
    assert all(r.tok not in STOPWORDS for r in hq)
    assert any(r.tok in STOPWORDS for r in lq)
    assert lq[0].tok in STOPWORDS
    assert all(a.llr_e4 >= b.llr_e4 for a, b in zip(hq, hq[1:]))
    assert all(a.llr_e4 <= b.llr_e4 for a, b in zip(lq, lq[1:]))
    assert hq[0].llr_e4 > 0 > lq[0].llr_e4


def test_ivf_probe_recall_monotone(spark):
    # Probing more lists can only add candidates: n_cand and recall_bp
    # are nondecreasing in n_probes, n_ret <= 5 * n_queries, and every
    # recall sits in [0, 10000].  The p=2 row is the production
    # operating point (_IVF_PROBES == 2).
    from engine.similarity import _IVF_PROBES, _IVF_SWEEP

    rows = sorted(
        engine.QUERIES["sim_ivf_probe_recall_curve"](spark, SF_DIR).collect(),
        key=lambda r: r.n_probes,
    )
    assert [r.n_probes for r in rows] == sorted(_IVF_SWEEP)
    assert _IVF_PROBES in {r.n_probes for r in rows}
    assert all(a.n_cand <= b.n_cand for a, b in zip(rows, rows[1:]))
    assert all(a.recall_bp <= b.recall_bp for a, b in zip(rows, rows[1:]))
    for r in rows:
        assert 0 <= r.recall_bp <= 10000
        assert r.n_hits <= r.n_ret <= 25


def test_pca_topcomp_invariants(spark):
    # A = Q^T Q is PSD, so the Rayleigh quotient is nonnegative; the
    # quantized loading has ~VSCALE^2 energy; and the learned direction
    # must beat the isotropic baseline (trace/64 per axis) — i.e. the
    # power iteration actually moved toward a dominant axis.
    from engine.similarity import _PCA_VSCALE

    rows = engine.QUERIES["sim_pca_power_topcomp"](spark, SF_DIR).collect()
    assert len(rows) == 64
    assert sorted(r.dim for r in rows) == list(range(1, 65))
    r0 = rows[0]
    assert all(
        (r.ray_num, r.ray_den, r.trace, r.share_bp)
        == (r0.ray_num, r0.ray_den, r0.trace, r0.share_bp)
        for r in rows
    )
    assert r0.ray_num >= 0 and r0.trace > 0
    den = sum(r.loading_q**2 for r in rows)
    assert den == r0.ray_den
    assert 0.5 * _PCA_VSCALE**2 <= den <= 1.5 * _PCA_VSCALE**2
    assert r0.share_bp > 10000 // 64  # beats isotropic


def test_pca_projection_energy_identities(spark):
    # Exact cross-key algebra: p_num = <Q, v> so sum(p_num^2) ==
    # v^T A v == ray_num, and sum(n2) == trace(A) — the projection and
    # the trainer must agree to the last integer.  ev_bp bounded by
    # Cauchy-Schwarz: p_num^2 <= n2 * den => ev_bp <= 10000.
    tr_rows = engine.QUERIES["sim_pca_power_topcomp"](spark, SF_DIR).collect()
    pr_rows = engine.QUERIES["sim_pca_project_residual"](
        spark, SF_DIR
    ).collect()
    r0 = tr_rows[0]
    assert sum(r.p_num**2 for r in pr_rows) == r0.ray_num
    assert sum(r.n2 for r in pr_rows) == r0.trace
    assert all(r.p_den == r0.ray_den for r in pr_rows)
    assert all(0 <= r.ev_bp <= 10000 for r in pr_rows)


# ---------------------------------------------------------------------------
# engine.io.load resolves each corpus table once per session
# (core.session_memo keyed on the table file's fingerprint).
# ---------------------------------------------------------------------------


def _load_jobs(spark, sf_dir, table, group):
    """``load`` under its own job group: (frame, Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = load(spark, sf_dir, table)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_repeat_call_launches_no_spark_job(spark, tmp_path):
    # A fresh sf_dir so the first call is a miss: the miss pays the
    # schema-inference job, the repeat returns the same frame with none.
    import shutil

    shutil.copy(f"{SF_DIR}/region.parquet", tmp_path / "region.parquet")
    first, n_first = _load_jobs(spark, str(tmp_path), "region", "load-miss")
    again, n_again = _load_jobs(spark, str(tmp_path), "region", "load-hit")
    assert n_first >= 1 and n_again == 0
    assert again is first


def test_load_rereads_a_rewritten_table(spark, tmp_path):
    # A corpus regenerated in a live session changes the file's
    # size/mtime: the next load reads the new rows, not the memoized
    # relation (whose file index still lists the old file).
    import duckdb

    path = tmp_path / "nation.parquet"

    def write(where):
        tmp = tmp_path / "nation.tmp"
        duckdb.execute(
            f"COPY (SELECT * FROM read_parquet('{SF_DIR}/nation.parquet') "
            f"WHERE {where}) TO '{tmp}' (FORMAT PARQUET)"
        )
        tmp.replace(path)

    write("true")
    assert load(spark, str(tmp_path), "nation").count() == 25
    write("n_regionkey = 0")
    rows = load(spark, str(tmp_path), "nation").collect()
    assert len(rows) == 5 and {r.n_regionkey for r in rows} == {0}


def test_load_gives_each_session_its_own_frame(spark):
    # session_memo keys on applicationId, which spark.newSession()
    # shares; a frame must never cross to the other session.
    mine = load(spark, SF_DIR, "region")
    other = spark.newSession()
    theirs = load(other, SF_DIR, "region")
    assert theirs.sparkSession is other and theirs is not mine
    assert load(other, SF_DIR, "region") is theirs
    assert load(spark, SF_DIR, "region").sparkSession is spark


def test_load_events_ts_is_timestamp_after_a_hit(spark):
    first = load(spark, SF_DIR, "events")
    again = load(spark, SF_DIR, "events")
    assert again is first
    assert dict(again.dtypes)["ts"] == "timestamp"


def test_load_self_joins_of_one_memoized_frame(spark, duck):
    # Two loads of one table are now ONE frame.  Aliased (join_theta_pure)
    # and per-side filtered joins stay correct; a bare non-equi self-join
    # raises rather than returning rows, and a bare equi self-join is
    # resolved per side by Spark, never trivially true.
    from pyspark.errors import AnalysisException

    def duck_count(sql):
        return duck.execute(sql).fetchone()[0]

    n1 = load(spark, SF_DIR, "nation").alias("n1")
    n2 = load(spark, SF_DIR, "nation").alias("n2")
    theta = n1.join(n2, F.col("n1.n_regionkey") < F.col("n2.n_regionkey"))
    assert theta.count() == duck_count(
        "SELECT COUNT(*) FROM nation n1 JOIN nation n2 "
        "ON n1.n_regionkey < n2.n_regionkey"
    )

    x = load(spark, SF_DIR, "nation").filter(F.col("n_regionkey") > 1)
    y = load(spark, SF_DIR, "nation").filter(F.col("n_regionkey") < 3)
    rows = x.join(y, x.n_nationkey == y.n_nationkey).select(
        x.n_nationkey, x.n_regionkey
    ).collect()
    assert len(rows) == duck_count(
        "SELECT COUNT(*) FROM nation WHERE n_regionkey > 1 AND n_regionkey < 3"
    )
    assert {r.n_regionkey for r in rows} == {2}

    a = load(spark, SF_DIR, "nation")
    b = load(spark, SF_DIR, "nation")
    with pytest.raises(AnalysisException):
        a.join(b, a.n_regionkey < b.n_regionkey).count()
    assert a.join(b, a.n_regionkey == b.n_regionkey).count() == duck_count(
        "SELECT COUNT(*) FROM nation n1 JOIN nation n2 "
        "ON n1.n_regionkey = n2.n_regionkey"
    )
