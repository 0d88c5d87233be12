"""Deduplication operators (SURVEY.md §2.9, ``dedup_*`` keys) — exact,
normalized, and MinHash-LSH near-duplicate detection.

The corpus has no native duplicates at test scale, so each key builds a
deterministic duplicated corpus (originals ∪ mutated copies at
``doc_id + 100000``; the ' zz yy' near-copy plant is
:func:`_neardup_corpus`) — the dedup path is exercised for real, and
the expected survivor set is exactly the originals.

Scale design (SURVEY.md §1.3c): near-dup detection is banded MinHash —
shingle → per-seed min-hash → band key → bucket self-join — candidate
pairs are generated per LSH bucket, NEVER by an all-pairs cross join.
Verification (exact Jaccard) runs only on the bounded candidate set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.core import fixpoint, pin, pin_int, query, session_memo
from engine.io import load
from engine.text import _TOKENS_SQL, _tokens, _trigrams

_COPY_OFFSET = 100_000


def _neardup_corpus(d: DataFrame) -> DataFrame:
    """(doc_id, text) documents ∪ planted near-copies at doc_id + 100000
    with text + ' zz yy' — the one Spark home of the planted corpus (SQL
    twin: the ``corpus`` CTE of :data:`_KR_SHINGLES_SQL`).  Each scanned
    row emits itself and its copy (``inline`` of a 2-struct array), so
    the corpus costs one scan of ``documents``, not the two of a
    union."""
    return d.select(
        F.inline(
            F.array(
                F.struct("doc_id", "text"),
                F.struct(
                    (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" zz yy")).alias("text"),
                ),
            )
        )
    )


@query(
    "dedup_exact",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text, lang, source FROM documents
        UNION ALL
        SELECT doc_id + {_COPY_OFFSET}, text, lang, source FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM corpus
    )
    SELECT doc_id, lang, source FROM ranked WHERE rn = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash, keep-lowest-doc_id.

    Hash first, then group: the shuffle key is the 32-byte md5, not the
    document body — at 100 TB the full text never needs to co-locate.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    corpus = d.unionByName(
        d.withColumn("doc_id", F.col("doc_id") + _COPY_OFFSET)
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        corpus.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


@query(
    "dedup_normalized",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text, lang FROM documents
        UNION ALL
        SELECT doc_id + {_COPY_OFFSET}, upper(text) || '  !!', lang FROM documents
    ),
    normed AS (
        SELECT doc_id, lang,
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                   ' +', ' ', 'g')) AS norm_text
        FROM corpus
    ),
    ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY md5(norm_text) ORDER BY doc_id) AS rn
        FROM normed
    )
    SELECT doc_id, lang FROM ranked WHERE rn = 1
    """,
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Normalization pipeline: lowercase → strip non-alphanumerics →
    # collapse whitespace → trim; copies differ in case/punctuation only
    # and must collapse onto their originals.
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    corpus = d.unionByName(
        d.select(
            (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"),
            F.concat(F.upper("text"), F.lit("  !!")).alias("text"),
            "lang",
        )
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    w = Window.partitionBy(F.md5(norm)).orderBy("doc_id")
    return (
        corpus.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang")
    )


_N_HASHES = 16
_BAND_SIZE = 4  # → 4 bands of 4 hashes


def _xx_shingles(corpus: DataFrame) -> DataFrame:
    """(doc_id, sh) xxhash64 hashes of each doc's distinct 3-word
    shingles (:func:`engine.text._trigrams`) — the xxhash64 feature
    hash, the only step its near-dup keys do not share with the KR
    chain (:func:`_kr_shingles` is the KR one).  Shingles travel as
    longs, not strings: ~6× less payload, long-compare joins, and
    hashed-set Jaccard equals exact shingle Jaccard up to a ~2^-40
    collision probability."""
    # The token column is materialized before _trigrams indexes into it
    # (the O(n²) element_at note there).
    return corpus.select("doc_id", _tokens(F.col("text")).alias("toks")).select(
        "doc_id",
        F.explode(
            F.transform(
                F.array_distinct(_trigrams(F.col("toks"))),
                lambda s: F.xxhash64(s),
            )
        ).alias("sh"),
    )


def minhash_near_pairs(corpus: DataFrame) -> DataFrame:
    """Near-dup pairs (doc_a, doc_b, jaccard ≥ 0.5) over a (doc_id, text)
    corpus: the Karp-Rabin MinHash chain of :func:`kr_pairs_from_sh`
    with xxhash64 as the feature hash.

    Shared engine primitive: backs the ``dedup_minhash_near`` key and the
    ``pipeline_corpus_clean`` composite.  Only the feature hash is its
    own (:func:`_xx_shingles`); every step after it is the KR chain's:
    16 min-hashes over the low 31 bits (:func:`_mh_mins`), base-131 band
    keys (:func:`_mh_bands`), the bucket-local band self-join
    (:func:`_mh_cand`), and the exact overlap over the full 64-bit
    hashes (:func:`_kr_overlap`)."""
    # sh feeds the signatures and both sides of the verify — persist the
    # diamond so the tokenize+explode runs once, not three times.
    sh = _xx_shingles(corpus).persist()
    h31 = sh.select("doc_id", F.col("sh").bitwiseAND(F.lit(0x7FFFFFFF)).alias("sh"))
    return (
        _kr_overlap(sh, _mh_cand(_mh_bands(_mh_mins(h31))))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


@query("dedup_minhash_near", oracle=None)  # rows-only: xxhash64 ≠ any DuckDB fn
def dedup_minhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs over the planted-duplicate corpus — see
    :func:`minhash_near_pairs` for the banded-LSH pipeline (rows-only
    key; Spark's xxhash64 isn't reproducible in DuckDB SQL).

    The duplicated corpus appends near-copies (2 extra tokens) at
    doc_id+100000; all 500 must surface as (d, d+100000) pairs
    (tests/test_unit_semantics.py recall assertion).
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_near_pairs(_neardup_corpus(d))


@query(
    "dedup_jaccard_verify",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT d.doc_id, t.tok
        FROM documents d, UNNEST({_TOKENS_SQL.format(c="d.text")}) AS t(tok)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 10 = 0
    ),
    commons AS (
        SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
        FROM pairs p
        JOIN tok ta ON ta.doc_id = p.doc_a
        JOIN tok tb ON tb.doc_id = p.doc_b AND tb.tok = ta.tok
        GROUP BY p.doc_a, p.doc_b
    )
    SELECT c.doc_a, c.doc_b,
           CAST(sa.n AS INTEGER) AS n_a,
           CAST(sb.n AS INTEGER) AS n_b,
           CAST(c.n_common AS INTEGER) AS n_common,
           CAST(c.n_common AS DOUBLE) / (sa.n + sb.n - c.n_common) AS jaccard
    FROM commons c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    """,
)
def dedup_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard over a bounded blocked pair set
    (consecutive doc_ids, every 10th) — the verification stage a banded
    LSH pipeline feeds; integer set sizes → one deterministic division."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok")).distinct()
    sizes = tok.groupBy("doc_id").agg(F.count("*").cast("int").alias("n"))
    pairs = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 1).alias("doc_b"))
        .join(d.select(F.col("doc_id").alias("doc_b")), "doc_b", "left_semi")
    )
    ta = tok.withColumnRenamed("doc_id", "doc_a")
    tb = tok.select(F.col("doc_id").alias("b_id"), F.col("tok").alias("tok_b"))
    commons = (
        pairs.join(ta, "doc_a")
        .join(tb, (F.col("doc_b") == F.col("b_id")) & (F.col("tok") == F.col("tok_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("int").alias("n_common"))
    )
    return (
        commons.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Beyond SURVEY §2: SimHash and embedding-cosine near-dup (north-star
# mandate — the remaining two dedup families of a training-data pipeline).
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 32
_SIMHASH_BAND = 8  # 4 bands of 8 bits; verify gate is hamming ≤ 3


def simhash_pairs(feat: DataFrame) -> DataFrame:
    """(doc_id, sh: long) xxhash64 features → near-dup pairs
    (doc_a, doc_b, hamming: int ≤ 3): signature bit b is the sign of
    Σ ±1 over bit b of each feature hash, and the signature → 4×8-band
    → hamming-gate tail is the KR chain's
    :func:`kr_simhash_pairs_from_sums`.

    Shared engine primitive: backs ``dedup_simhash`` (text shingle
    features) and ``mm_simhash_bytes`` (binary byte-gram features); see
    dedup_simhash's docstring for the band-size measurement."""
    sums = _sign_sums(
        feat, lambda b: F.shiftright(F.col("sh"), b).bitwiseAND(F.lit(1))
    )
    return kr_simhash_pairs_from_sums(sums).select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    )


@query("dedup_simhash", oracle=None)  # rows-only: xxhash64 bit extraction
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit signature where bit b is the sign of
    Σ_features (±1 by bit b of xxhash64(feature)); near-dups are
    candidate pairs sharing any 8-bit band (banded, never all-pairs),
    confirmed by hamming distance ≤ 3.

    Band sizing (measured, not guessed): 4 bands cover hamming ≤ 3 by
    pigeonhole.  Wider signatures were tried and rejected — 60-bit/15-bit
    bands collapse recall (ham ≤ 3 of 60 is far tighter than 3 of 32),
    and 60-bit/10-bit/ham ≤ 5 still recalls fewer planted pairs (410 vs
    438 of 500) at the same runtime.  The 8-bit buckets over-generate
    candidates on huge corpora; at that scale raise _SIMHASH_BITS and
    the hamming gate TOGETHER (keep gate/bits ≈ 0.1 and bands = gate+1).

    Features are distinct 3-word shingles, not tokens: the corpus draws
    from a ~40-word vocabulary, so token-level signatures of unrelated
    docs are near-identical (a 16-bit token-feature first cut produced
    258k false candidates); the shingle space is large enough for
    signatures to decorrelate.  Same planted near-copies as
    dedup_minhash_near.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_pairs(_xx_shingles(_neardup_corpus(d)))


# ---------------------------------------------------------------------------
# Oracle-able SimHash (round 10): same banded SimHash construction as
# dedup_simhash but every hash in the chain is the repo's Karp-Rabin
# polyhash family — DuckDB-expressible end-to-end, so the ENTIRE
# near-dup path (shingle → signature → band → hamming gate) is
# hash-verified against the oracle, not just rows-counted.
# ---------------------------------------------------------------------------

_FP_MOD = 1_099_511_627_689  # prime < 2^40 (text.py char-fold modulus)
_M31 = (1 << 31) - 1  # Mersenne prime: universal-hash modulus
# Per-bit universal hash family g_b(x) = (A_b·x + C_b) mod M, bit = g_b
# mod 2 — same (a, b) construction as the MinHash family _MH_A/_MH_B;
# the `% _M31` is REQUIRED (see _mh_mins' degenerate-LSH note).
_SH_A = [(2654435761 * (2 * b + 1)) % _M31 or 1 for b in range(_SIMHASH_BITS)]
_SH_C = [(40503 * b * b + 987654321 + b) % _M31 for b in range(_SIMHASH_BITS)]

_SH_SUMS_SQL = ",\n           ".join(
    f"SUM(CASE WHEN ((sh * {_SH_A[b]} + {_SH_C[b]}) % {_M31}) % 2 = 1 "
    f"THEN 1 ELSE -1 END) AS s{b}"
    for b in range(_SIMHASH_BITS)
)
_SH_SIG_SQL = " + ".join(
    f"(CASE WHEN s{b} >= 0 THEN CAST({1 << b} AS BIGINT) "
    f"ELSE CAST(0 AS BIGINT) END)"
    for b in range(_SIMHASH_BITS)
)
# The KR SimHash tail over an ``sh`` (doc_id, sh) CTE: sign sums →
# 32-bit signature → 4×8-bit bands → hamming-gated ``sh_pairs`` (doc_a,
# doc_b, hamming).  SQL twin of kr_simhash_pairs; each oracle that
# splices it keeps only its output aliases.
_SH_PAIRS_CTES = f"""sums AS (
        SELECT doc_id,
           {_SH_SUMS_SQL}
        FROM sh GROUP BY doc_id
    ),
    sigs AS (
        SELECT doc_id, {_SH_SIG_SQL} AS sig FROM sums
    ),
    bands AS (
        SELECT doc_id, sig, b.band, (sig >> (b.band * 8)) & 255 AS band_val
        FROM sigs, UNNEST([0, 1, 2, 3]) AS b(band)
    ),
    sh_pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= 3
        GROUP BY 1, 2, 3
    )"""


# Shared Karp-Rabin shingle-set builder (SQL twin of _kr_shingles):
# a corpus CTE → per-token char fold mod p₄₀ mod M₃₁ → base-131
# 3-token shingle combine → DISTINCT (doc_id, sh).  Used by the
# polyhash SimHash, the prefix-filter set-similarity join, the
# oracle-able MinHash, and (with its own corpus CTE) the incremental
# dedup key; _KR_TOK_SH_SQL is the corpus-agnostic suffix.
_KR_TOK_SH_SQL = f"""tok AS (
        SELECT doc_id,
               list_transform({_TOKENS_SQL.format(c="text")},
                   t -> list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                                    list_transform(string_split_regex(t, ''),
                                                   c -> CAST(ascii(c) AS BIGINT))),
                       (h, c) -> (h * 31 + c) % {_FP_MOD}) % {_M31}) AS th
        FROM corpus
    ),
    sh AS (
        SELECT DISTINCT doc_id, s.sh
        FROM tok, UNNEST(list_distinct(list_transform(
             range(1, GREATEST(len(th) - 1, 1)),
             i -> (((th[CAST(i AS INTEGER)] * 131
                     + th[CAST(i AS INTEGER) + 1]) % {_M31}) * 131
                   + th[CAST(i AS INTEGER) + 2]) % {_M31}))) AS s(sh)
    )"""

# The planted-copy corpus instantiation used by the three sibling keys.
_KR_SHINGLES_SQL = f"""corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_COPY_OFFSET}, text || ' zz yy' FROM documents
    ),
    {_KR_TOK_SH_SQL}"""


def _kr_t31(tok) -> F.Column:
    """Per-token Karp-Rabin char fold mod M31 — the Spark twin of
    :data:`_KR_T31_SQL`, used where token hashes are computed per
    vocabulary entry rather than by the shingle kernel (one interpreted
    lambda eval per CHAR of the token, ~6/token — never per gram)."""
    return (
        F.aggregate(
            F.split(tok, ""),
            F.lit(0).cast("long"),
            lambda h, c: (h * 31 + F.ascii(c)) % _FP_MOD,
        )
        % _M31
    )


def _kr_shingles(corpus: DataFrame) -> DataFrame:
    """DISTINCT (doc_id, sh) Karp-Rabin 3-token shingle hashes of a
    (doc_id, text) corpus with one row per doc_id — the
    DuckDB-expressible feature set behind the hash-verified near-dup
    family: `dedup_simhash_polyhash`, `dedup_setsim_prefix_filter`,
    `dedup_minhash_polyhash`, `dedup_incremental_minhash`,
    `dedup_minhash_calibration` and `pipeline_corpus_clean_polyhash`
    (corpus-agnostic SQL twin: :data:`_KR_TOK_SH_SQL`).

    ONE Arrow/numpy kernel over the raw scan — guide §4.2's "hand whole
    batches to vectorized native code" — rather than an exploded JVM
    chain (posexplode → per-char interpreted fold → two lead() windows
    → distinct ≈ 54 tokens × ~6 lambda evals per doc + a generate + a
    sort + a hash-agg).  Each doc's text sits in one row, so the kernel
    emits its distinct shingle set with no exchange; a consumer's
    groupBy(doc_id) is the first shuffle.  Measured against that JVM
    chain on all six consumers at sf0.1 (interleaved sessions, table in
    CHANGES.md): no consumer is slower.

    Exactness argument: Horner fold h=(h·31+c) mod p is linear, so
    h = Σ c_j·31^(L-1-j) mod p — computed vectorized as per-char
    contribution c·31^k mod p (k = chars-from-token-end) + segment sum
    (np.add.reduceat); all intermediates < 2^62 in int64 (c ≤ 0x10FFFF
    < 2^21, 31^k mod p < 2^40, token length < 2^21).  The corpus is
    joined on '\\x00' (absent from the synthetic docs); tokens
    split on the literal ' ' exactly like F.split(lower(text), ' ')
    with empties dropped — consecutive spaces yield zero-length
    segments that are skipped, mirroring `_tokens`; codepoints come
    from UTF-32-LE so non-ASCII would match F.ascii's codepoint
    semantics.  NULL texts and docs under 3 tokens produce no rows.
    tests/test_unit_semantics.py pins the kernel to a plain-Python
    evaluation of the definition; every consumer's DuckDB oracle
    replays the chain independently."""

    def kernel(it):
        import numpy as np
        import pandas as pd

        pow31 = np.ones(1, dtype=np.int64)

        def grow_pow(n: int):
            nonlocal pow31
            if len(pow31) <= n:
                old = pow31
                pow31 = np.empty(n + 1, dtype=np.int64)
                pow31[: len(old)] = old
                for i in range(len(old), n + 1):
                    pow31[i] = (pow31[i - 1] * 31) % _FP_MOD
            return pow31

        for pdf in it:
            texts = pdf["text"]
            keep = texts.notna().to_numpy()
            if not keep.any():
                continue
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)[keep]
            joined = "\x00".join(texts[keep].astype(str).str.lower())
            codes = np.frombuffer(
                joined.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            n = len(codes)
            if n == 0:
                continue
            is_doc_sep = codes == 0
            not_sep = ~(is_doc_sep | (codes == 32))
            prev_sep = np.empty(n, dtype=bool)
            prev_sep[0] = True
            prev_sep[1:] = ~not_sep[:-1]
            next_sep = np.empty(n, dtype=bool)
            next_sep[-1] = True
            next_sep[:-1] = ~not_sep[1:]
            ends = np.nonzero(not_sep & next_sep)[0]
            if len(ends) < 3:
                continue
            nz = np.nonzero(not_sep)[0]
            tok_of_char = np.searchsorted(ends, nz)
            k = ends[tok_of_char] - nz
            pw = grow_pow(int(k.max()))
            contrib = (codes[nz] * pw[k]) % _FP_MOD
            seg_starts = np.nonzero(
                np.r_[True, tok_of_char[1:] != tok_of_char[:-1]]
            )[0]
            th = (np.add.reduceat(contrib, seg_starts) % _FP_MOD) % _M31
            doc_idx = np.cumsum(is_doc_sep)
            doc_of_tok = doc_idx[nz[seg_starts]]
            sh = (((th[:-2] * 131 + th[1:-1]) % _M31) * 131 + th[2:]) % _M31
            same = doc_of_tok[:-2] == doc_of_tok[2:]
            sh = sh[same]
            if not len(sh):
                continue
            # per-doc distinct: pack (batch-local doc index < 2^20,
            # sh < 2^31) into one int64 and np.unique once
            packed = np.unique((doc_of_tok[:-2][same] << 31) | sh)
            yield pd.DataFrame(
                {
                    "doc_id": ids[(packed >> 31)],
                    "sh": packed & ((1 << 31) - 1),
                }
            )

    return corpus.select("doc_id", "text").mapInPandas(
        kernel, "doc_id long, sh long"
    )


@query(
    "dedup_simhash_polyhash",
    oracle=f"""
    WITH {_KR_SHINGLES_SQL},
    {_SH_PAIRS_CTES}
    SELECT doc_a, doc_b, hamming FROM sh_pairs
    """,
)
def dedup_simhash_polyhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup, HASH-VERIFIED end-to-end (r9 VERDICT #3):
    identical banded construction to ``dedup_simhash`` (32-bit
    signature, 4×8-bit bands, hamming ≤ 3) with the xxhash64 feature
    hash replaced by the repo's deterministic Karp-Rabin chain —
    per-token char fold mod p₄₀ (`text_hashing_tf` parity precedent)
    reduced mod M = 2³¹−1, 3-token shingle = base-131 fold of the three
    token hashes mod M, and per-bit signs from the minhash-style
    universal family ((A_b·sh + C_b) mod M) mod 2.  Every integer op is
    bit-identical in DuckDB, so the oracle replays the FULL pipeline
    and the driver hash-proves the selected pair set (recall vs the
    planted copies: 434/500 at sf0.01, within noise of the xxhash
    sibling's 438 — the family swap costs nothing).

    Shuffle discipline: the shingle kernel (:func:`_kr_shingles`) runs
    in the scan's partitions, so the 32-sum groupBy(doc_id) is the ONE
    exchange of the signature stage.  The band self-join is
    bucket-local, never all-pairs."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return kr_simhash_pairs(_kr_shingles(_neardup_corpus(d)))


def _sign_sums(feat: DataFrame, bit) -> DataFrame:
    """(doc_id, feature) → (doc_id, s0..s31): per signature bit b, Σ ±1
    over the doc's features by ``bit(b)``, the feature's 0/1 bit b.  The
    one SimHash step that depends on the feature hash; its KR instance
    is :data:`_SH_SUMS_SQL` in DuckDB."""
    return feat.groupBy("doc_id").agg(
        *[
            F.sum(F.when(bit(b) == 1, 1).otherwise(-1)).alias(f"s{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )


def kr_simhash_pairs(feat: DataFrame) -> DataFrame:
    """(doc_id, sh: long) KR features → banded 32-bit SimHash pair set
    (4×8-bit bands, hamming ≤ 3) for ``dedup_simhash_polyhash``.  Every
    op is bit-identical in DuckDB (_SH_PAIRS_CTES is the SQL twin), so
    its oracle replays it verbatim."""
    return kr_simhash_pairs_from_sums(
        _sign_sums(
            feat, lambda b: ((F.col("sh") * _SH_A[b] + _SH_C[b]) % _M31) % 2
        )
    )


def kr_simhash_pairs_from_sums(
    sums: DataFrame, eager: bool = False
) -> DataFrame:
    """(doc_id, s0..s31) per-bit sign sums → banded pair set (doc_a,
    doc_b, hamming: long) — the one SimHash signature tail, shared by
    both feature hashes (:func:`kr_simhash_pairs`,
    :func:`simhash_pairs`) and by callers that compute the 32 sums
    inside an Arrow kernel (``mm_simhash_bytes_polyhash``: 32
    vectorized ops over the per-doc gram array, zero shuffle), which
    skip the corpus-×-32 conditional-sum aggregation entirely.

    ``eager`` materializes the signature cache with one count() BEFORE
    the band self-join builds.  A lazy persist gets RACED by the join's
    two stages — each computes the uncached subtree concurrently.  Where
    an exchange sits between the cache and the expensive work, only the
    part above it races: dedup_simhash_polyhash's shingle kernel feeds
    the 32-sum groupBy's exchange, so the race is nearly free and the
    extra serialized pass LOSES (sf0.1 warm mins, 2 interleaved
    sessions: 2.67 s lazy vs 3.00 s eager) — that caller stays lazy, as
    does :func:`simhash_pairs`, whose sums are a groupBy too.  The mm
    byte-gram caller computes its sums inside the kernel with no
    exchange, so the race doubles the worker-limited kernel work (~8 s
    vs ~5 s) — it passes eager=True."""
    sig_col = None
    for b in range(_SIMHASH_BITS):
        bit = F.when(F.col(f"s{b}") >= 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig_col = bit if sig_col is None else sig_col + bit
    # sigs feeds both sides of the band self-join — without persist the
    # whole shingle→32-sum subtree re-derives per consumer
    # (graph_triangle_count precedent, ~|docs| rows cached).
    sigs = sums.select("doc_id", sig_col.alias("sig")).persist()
    if eager:
        sigs.count()
    n_bands = _SIMHASH_BITS // _SIMHASH_BAND
    band_vals = F.array(
        *[
            F.shiftright(F.col("sig"), b * _SIMHASH_BAND).bitwiseAND(
                F.lit((1 << _SIMHASH_BAND) - 1)
            )
            for b in range(n_bands)
        ]
    )
    bands = sigs.select(
        "doc_id", "sig", F.posexplode(band_vals).alias("band", "band_val")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).cast("long")
    # hamming gate BEFORE the pair-dedup: the bucket join over-generates
    # (~C(bucket,2) per band value — ~800k rows at sf0.1), and the gate
    # is a per-row codegen'd xor that kills almost all of them, so the
    # distinct's exchange carries ~|true pairs|·bands rows instead
    # (filter commutes with distinct; measured 3.2 → 1.5 s).
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


_SETSIM_T10 = 8  # Jaccard threshold in tenths (0.8)


@query(
    "dedup_setsim_prefix_filter",
    oracle=f"""
    WITH {_KR_SHINGLES_SQL},
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common, sa.n AS n_a, sb.n AS n_b,
           CAST(n_common * 1000000 // (sa.n + sb.n - n_common) AS BIGINT)
               AS jac_e6
    FROM inter JOIN sizes sa ON inter.doc_a = sa.doc_id
               JOIN sizes sb ON inter.doc_b = sb.doc_id
    WHERE n_common * 10 >= {_SETSIM_T10} * (sa.n + sb.n - n_common)
    """,
)
def dedup_setsim_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via PREFIX FILTERING (the AllPairs /
    PPJoin family, Bayardo et al. WWW'07) — the LSH-free exact near-dup
    path: every pair with shingle-set Jaccard ≥ 0.8, with NO
    probabilistic recall loss.  Candidates come from the prefix-filter
    invariant: order each doc's shingles by ascending global document
    frequency (rarest first, ties by value) and keep only the first
    |s| − ⌈t·|s|⌉ + 1 — two sets with Jaccard ≥ t MUST collide on at
    least one prefix element, so the candidate join runs on the rare
    prefix shingles only (df-ascending order makes those buckets the
    SMALLEST), never on the full inverted index.

    The oracle is deliberately the NAIVE form — shared-element join +
    exact Jaccard gate, the semantic ground truth — so the hash match
    PROVES the prefix filter loses nothing (the join_bloom_prefilter
    "oracle is the plain join" discipline).  All arithmetic is integer
    (10·inter ≥ 8·union; jac_e6 by integer div), ⌈0.8n⌉ = (8n+9) div 10
    on both engines (non-negative → truncation = floor).

    Scale: df ranking is one map-side-combinable count + a shingle-key
    join; prefix extraction is a doc_id window over the already
    doc_id-partitioned frame; candidate volume is bounded by prefix
    bucket sizes (rare shingles — planted copies + hash-collision
    noise), and the exact-intersection verify joins per-doc shingle
    arrays for CANDIDATE doc_ids only (left_semi-pruned, unhinted):
    AQE broadcasts the pruned dim while it is small and falls back to
    a shuffle join keyed on the pair ids when it is not, so no stage
    ever forces a corpus-correlated broadcast."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    # sh feeds two windows + three joins: persist the diamond
    sh = _kr_shingles(_neardup_corpus(d)).persist()

    # df as a window count over the sh partitioning — measured faster
    # than the groupBy+join form (2.0 vs 2.4 s to candidates at sf0.1):
    # same exchange on sh, no join build side.
    df = F.count("*").over(Window.partitionBy("sh"))
    wr = Window.partitionBy("doc_id").orderBy("df", "sh")
    wd = Window.partitionBy("doc_id")
    pref = (
        sh.select("doc_id", "sh", df.alias("df"))
        .select(
            "doc_id",
            "sh",
            F.row_number().over(wr).alias("rk"),
            F.count("*").over(wd).alias("n"),
        )
        .filter(
            F.col("rk")
            <= F.col("n") - F.expr(f"({_SETSIM_T10} * n + 9) div 10") + 1
        )
        .select("doc_id", "sh", "n")
    )
    a = pref.select(F.col("doc_id").alias("doc_a"), "sh", F.col("n").alias("na"))
    b = pref.select(F.col("doc_id").alias("doc_b"), "sh", F.col("n").alias("nb"))
    # AllPairs LENGTH FILTER: Jaccard ≥ t forces min(|a|,|b|) ≥
    # t·max(|a|,|b|) — a per-row integer gate at the candidate join that
    # cut 474k → 178k pairs at sf0.1 with zero recall loss.
    cand = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.least("na", "nb") * 10 >= _SETSIM_T10 * F.greatest("na", "nb")
        )
        .select("doc_a", "doc_b")
        .distinct()
        .persist()  # diamond: feeds the id-prune AND both verify joins
    )
    # Exact-intersection verify via per-doc shingle arrays +
    # array_intersect: the exploded form (shingle table ⋈ candidate set
    # ⋈ shingle table, then a pair groupBy) materializes |pairs|·|set|
    # ≈ 9.4M rows through a shuffle; the array form joins 178k pair rows
    # against a small dim twice and intersects JVM-side in codegen.
    # The dim is left_semi-PRUNED to candidate doc_ids first (r10
    # verdict): an unpruned dim grows with CORPUS doc count, whereas
    # candidate doc_ids are bounded by true pairs + prefix collisions.
    # UNHINTED joins (r13, closing the r12 broadcast-audit): candidate
    # count still grows ~linearly with corpus at constant dup density,
    # so a hard F.broadcast here is a forced-broadcast OOM at 100×.
    # AQE size-selects BHJ at every tested scale (dim ≤ a few MB) and
    # degrades to a shuffle join — arrays as shuffle payload keyed on
    # doc_a/doc_b, the exploded-shuffle fallback the r12 docstring
    # promised, reached automatically instead of behind a hand-rolled
    # threshold — once the candidate dim outgrows the broadcast limit.
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets = (
        sh.join(cand_ids, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("sh").alias("arr"), F.count("*").alias("n"))
    )
    out = (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("arr").alias("arr_a"),
                F.col("n").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("arr").alias("arr_b"),
                F.col("n").alias("n_b"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("arr_a", "arr_b"))
            .cast("long")
            .alias("n_common"),
            "n_a",
            "n_b",
        )
        .filter(
            F.col("n_common") * 10
            >= _SETSIM_T10 * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
    )
    return out.select(
        "doc_a",
        "doc_b",
        "n_common",
        "n_a",
        "n_b",
        F.expr("n_common * 1000000 div (n_a + n_b - n_common)")
        .cast("long")
        .alias("jac_e6"),
    )


# The one MinHash universal-hash family h_i(x) = (a_i·x + b_i) mod M31,
# for both feature hashes (KR shingles, and the low 31 bits of the
# xxhash64 shingles of minhash_near_pairs); module-level because the
# oracle SQL is built at decorator time.
_MH_A = [(2654435761 * (2 * i + 1)) % _M31 or 1 for i in range(_N_HASHES)]
_MH_B = [(40503 * i * i + 987654321 + i) % _M31 for i in range(_N_HASHES)]


def _mh_band_fold_sql(b: int) -> str:
    """Base-131 mod-M31 fold of band b's 4 consecutive min-hashes —
    the integer band key both engines compute bit-identically."""
    i0, i1, i2, i3 = (b * _BAND_SIZE + j for j in range(4))
    return (
        f"((((m{i0} * 131 + m{i1}) % {_M31}) * 131 + m{i2}) % {_M31}"
        f" * 131 + m{i3}) % {_M31}"
    )


_MH_MINS_SQL = ",\n           ".join(
    f"MIN((sh * {_MH_A[i]} + {_MH_B[i]}) % {_M31}) AS m{i}"
    for i in range(_N_HASHES)
)
_MH_BANDS_SQL = "\n        UNION ALL\n        ".join(
    f"SELECT doc_id, {b} AS band, {_mh_band_fold_sql(b)} AS band_key FROM mins"
    for b in range(_N_HASHES // _BAND_SIZE)
)


def _mh_band_fold(b: int):
    """Spark twin of :func:`_mh_band_fold_sql` over the m{i} columns."""
    i0, i1, i2, i3 = (b * _BAND_SIZE + j for j in range(4))
    return (
        (
            ((F.col(f"m{i0}") * 131 + F.col(f"m{i1}")) % _M31) * 131
            + F.col(f"m{i2}")
        )
        % _M31
        * 131
        + F.col(f"m{i3}")
    ) % _M31


def _mh_mins(sh: DataFrame) -> DataFrame:
    """(doc_id, sh) → (doc_id, m0..m15): the 16 universal-family
    min-hashes as ONE columnar, map-side-combinable groupBy (no 16× row
    explosion) — Spark twin of :data:`_MH_MINS_SQL`.  ANSI overflow
    bound: sh < 2³¹ and a_i < M31 keep a_i·sh + b_i < 2⁶².  The
    ``% M31`` inside the min is REQUIRED: without it h_i is strictly
    monotone in sh, every min-hash picks the same argmin shingle, and
    banding degenerates to 1-hash LSH (recall ≈ J instead of
    1−(1−J⁴)⁴; r2 ADVICE #1)."""
    return sh.groupBy("doc_id").agg(
        *[
            F.min((F.col("sh") * F.lit(_MH_A[i]) + F.lit(_MH_B[i])) % F.lit(_M31))
            .alias(f"m{i}")
            for i in range(_N_HASHES)
        ]
    )


def _mh_bands(mins: DataFrame) -> DataFrame:
    """(doc_id, m0..m15) → (doc_id, band, band_key), one row per band —
    Spark twin of :data:`_MH_BANDS_SQL`."""
    return mins.select(
        "doc_id",
        F.posexplode(
            F.array(*[_mh_band_fold(b) for b in range(_N_HASHES // _BAND_SIZE)])
        ).alias("band", "band_key"),
    )


def _mh_cand(bands: DataFrame) -> DataFrame:
    """DISTINCT (doc_a < doc_b) pairs sharing a band key — the
    bucket-local band self-join, never all-pairs (Spark twin of the
    ``cand`` CTE in :data:`_KR_MH_PAIRS_CTES`)."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _kr_overlap(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact shingle overlap of candidate pairs: (doc_a, doc_b) over a
    DISTINCT (doc_id, sh) frame → (doc_a, doc_b, n_common, n_a, n_b),
    ungated — Spark twin of the ``sizes``/``inter`` CTEs in
    :data:`_KR_MH_PAIRS_CTES`; each caller applies its own gate and
    projection.  Unhinted joins: pair volume is corpus-proportional,
    so size selection is AQE's call, not a hard hint (r11
    broadcast-audit policy)."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sh_a = sh.withColumnRenamed("doc_id", "doc_a")
    sh_b = sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    inter = (
        sh_a.join(cand, "doc_a")
        .join(
            sh_b,
            (F.col("doc_b") == F.col("b_id")) & (F.col("sh") == F.col("sh_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")),
            "doc_b",
        )
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
    )


# KR MinHash pair CTEs — consume an `sh` CTE of DISTINCT (doc_id, sh)
# and yield `mh_pairs` (doc_a, doc_b, n_common, n_a, n_b, exact Jaccard
# ≥ 0.5).  Shared by dedup_minhash_polyhash and the hash-verified
# corpus-clean pipeline (engine/composite.py).
_KR_MH_PAIRS_CTES = f"""mins AS (
        SELECT doc_id,
           {_MH_MINS_SQL}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_MH_BANDS_SQL}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ),
    inter AS (
        SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
        GROUP BY 1, 2
    ),
    mh_pairs AS (
        SELECT doc_a, doc_b, n_common, sa.n AS n_a, sb.n AS n_b
        FROM inter JOIN sizes sa ON inter.doc_a = sa.doc_id
                   JOIN sizes sb ON inter.doc_b = sb.doc_id
        WHERE n_common * 2 >= (sa.n + sb.n - n_common)
    )"""


def kr_minhash_near_pairs(corpus: DataFrame) -> DataFrame:
    """Exact-Jaccard ≥ 0.5 near-dup pairs over a (doc_id, text) corpus
    via the DuckDB-replayable Karp-Rabin MinHash+LSH chain (SQL twin:
    :data:`_KR_MH_PAIRS_CTES` over an `sh` CTE); :func:`minhash_near_pairs`
    runs the same chain with xxhash64 as the feature hash.  Returns (doc_a,
    doc_b, n_common, n_a, n_b, jac_e6)."""
    return kr_pairs_from_sh(_kr_shingles(corpus))


def kr_pairs_from_sh(sh: DataFrame, eager: bool = False) -> DataFrame:
    """The minhash → band → bucket-join → exact-verify tail of
    :func:`kr_minhash_near_pairs`, over ANY distinct (doc_id, sh)
    shingle-hash frame (SQL twin: :data:`_KR_MH_PAIRS_CTES` over an
    `sh` CTE) — factored out so keys that derive their shingle stream
    differently (e.g. the lexicon-normalized cross-lingual key) reuse
    the identical pair chain.  Shuffle discipline: persisted shingle
    diamond, columnar 16-min reduce, bucket-local band self-join,
    unhinted candidate-verify joins (AQE size-selects).

    ``eager`` is the r12 lazy-persist-race dial
    (kr_simhash_pairs_from_sums precedent): the band self-join races a
    LAZY sh persist, computing the shingle subtree 2×.  Measured at
    sf0.1 (cold cache, min of 2): crosslingual 5.02 s lazy → 4.31 s
    eager (its sh subtree carries the lexicon normalize + window);
    minhash_polyhash 2.05 s lazy → 2.43 s eager (cheap subtree — the
    extra driver job outweighs the race).  With the shingle kernel
    (:func:`_kr_shingles`) lazy still wins or ties for both kernel
    callers (warm mins, 2 interleaved sessions: minhash_polyhash 2.93
    vs 2.86 s, pipeline_corpus_clean_polyhash 4.65 vs 4.91 s lazy vs
    eager).  Default lazy; callers with an expensive shingle stream
    pass eager=True."""
    sh = sh.persist()
    if eager:
        sh.count()
    return (
        _kr_overlap(sh, _mh_cand(_mh_bands(_mh_mins(sh))))
        .filter(
            F.col("n_common") * 2 >= F.col("n_a") + F.col("n_b") - F.col("n_common")
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            F.expr("n_common * 1000000 div (n_a + n_b - n_common)")
            .cast("long")
            .alias("jac_e6"),
        )
    )


@query(
    "dedup_minhash_polyhash",
    oracle=f"""
    WITH {_KR_SHINGLES_SQL},
    {_KR_MH_PAIRS_CTES}
    SELECT doc_a, doc_b, n_common, n_a, n_b,
           CAST(n_common * 1000000 // (n_a + n_b - n_common) AS BIGINT)
               AS jac_e6
    FROM mh_pairs
    """,
)
def dedup_minhash_polyhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup, HASH-VERIFIED end-to-end (r10
    VERDICT #4, completing the r10 SimHash precedent): the same
    16-hash / 4×4-band chain as ``dedup_minhash_near`` with the
    xxhash64 feature hash replaced by KR 3-token shingles
    (:func:`_kr_shingles`) — min-hashes from the mod-M31 universal
    family (:func:`_mh_mins`) and band keys as a base-131 mod-M31
    integer fold of 4 consecutive min-hashes (:func:`_mh_bands`), both
    shared with the xxhash64 key.  The DuckDB oracle replays the FULL pipeline
    (shingle → min → band → bucket join → exact-Jaccard verify), so the
    driver hash-proves candidate generation AND verification; recall vs
    the planted copies is floor-pinned in tests/test_unit_semantics.py.

    Shuffle discipline: the persisted
    (doc_id, sh) diamond feeds signatures and both verify sides; the
    16 mins reduce COLUMNAR in one map-side-combinable groupBy (no 16×
    row explosion); the band self-join is bucket-local, never
    all-pairs; the exact-intersection verify joins the shingle table
    against the candidate set UNHINTED — AQE size-selects the join, a
    broadcast at bench scale (:func:`_kr_overlap`).  ANSI overflow
    bounds: sh < 2³¹ and a_i < M31 keep a_i·sh + b_i < 2⁶²; band folds
    stay < 2³⁸ between reductions."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return kr_minhash_near_pairs(_neardup_corpus(d))


# Incremental batch: near-copies (‰3=0), exact copies (‰3=1), and NOVEL
# docs (‰3=2, five per-id-unique tokens — true negatives the index must
# NOT match).  Shared between the Spark plan and the oracle below.
_INC_BATCH_SQL = f"""corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_COPY_OFFSET},
               CASE doc_id % 3
                 WHEN 0 THEN text || ' zz yy'
                 WHEN 1 THEN text
                 ELSE 'nv' || doc_id || 'a nv' || doc_id || 'b nv'
                      || doc_id || 'c nv' || doc_id || 'd nv'
                      || doc_id || 'e'
               END
        FROM documents
    )"""


@query(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH {_INC_BATCH_SQL},
    {_KR_TOK_SH_SQL},
    mins AS (
        SELECT doc_id,
           {_MH_MINS_SQL}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_MH_BANDS_SQL}
    ),
    cand AS (
        SELECT DISTINCT b.doc_id AS batch_id, a.doc_id AS index_id
        FROM bands b JOIN bands a
          ON b.band = a.band AND b.band_key = a.band_key
         AND b.doc_id >= {_COPY_OFFSET} AND a.doc_id < {_COPY_OFFSET}
    ),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ),
    inter AS (
        SELECT c.batch_id, c.index_id, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM cand c
        JOIN sh sb ON sb.doc_id = c.batch_id
        JOIN sh sa ON sa.doc_id = c.index_id AND sa.sh = sb.sh
        GROUP BY 1, 2
    )
    SELECT batch_id, index_id, n_common, sb.n AS n_batch, sa.n AS n_index,
           CAST(n_common * 1000000 // (sb.n + sa.n - n_common) AS BIGINT)
               AS jac_e6
    FROM inter JOIN sizes sb ON inter.batch_id = sb.doc_id
               JOIN sizes sa ON inter.index_id = sa.doc_id
    WHERE n_common * 2 >= (sb.n + sa.n - n_common)
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ingestion dedup — the shape that actually runs at
    100 TB: a NEW BATCH is checked against the EXISTING corpus index
    without ever re-pairing index×index (already deduped) or paying
    batch×batch (deferred to the batch's own intra-dedup pass).  The
    band join is strictly batch-side × index-side, so candidate volume
    scales with |batch|, not |corpus|² — in production the index-side
    band table is a PRECOMPUTED stored artifact and each nightly drop
    joins against it; here both sides derive from one shared shingle
    scan (the persisted diamond).

    The batch plants all three verdicts: near-copies (‰3=0, 2 appended
    tokens), exact copies (‰3=1, Jaccard = 1e6 exactly), and novel docs
    (‰3=2, per-id-unique tokens — true negatives that must survive the
    exact-Jaccard verify with zero matches).  The full chain is the
    Karp-Rabin/universal-family construction of ``dedup_minhash_polyhash``,
    so the DuckDB oracle replays everything and the driver hash-proves
    the incremental verdicts.  Joins carry NO broadcast hints: in this
    construction the batch is a full corpus copy (|batch| ≈ |index|,
    not ≪), and candidate volume grows with duplication density — AQE
    size-selects broadcasts at bench scale and falls back to shuffle
    joins when a real nightly drop is large (r11 audit policy)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    novel = F.concat_ws(
        " ",
        *[
            F.concat(F.lit("nv"), F.col("doc_id").cast("string"), F.lit(s))
            for s in "abcde"
        ],
    )
    batch_text = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" zz yy")))
        .when(F.col("doc_id") % 3 == 1, F.col("text"))
        .otherwise(novel)
    )
    corpus = d.unionByName(
        d.select(
            (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"),
            batch_text.alias("text"),
        )
    )
    sh = _kr_shingles(corpus).persist()
    bands = _mh_bands(_mh_mins(sh))
    idx_bands = bands.filter(F.col("doc_id") < _COPY_OFFSET).select(
        F.col("doc_id").alias("doc_b"), "band", "band_key"
    )
    batch_bands = bands.filter(F.col("doc_id") >= _COPY_OFFSET).select(
        F.col("doc_id").alias("doc_a"), "band", "band_key"
    )
    cand = (
        idx_bands.join(batch_bands, ["band", "band_key"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    return (
        _kr_overlap(sh, cand)
        .filter(
            F.col("n_common") * 2 >= F.col("n_a") + F.col("n_b") - F.col("n_common")
        )
        .select(
            F.col("doc_a").alias("batch_id"),
            F.col("doc_b").alias("index_id"),
            "n_common",
            F.col("n_a").alias("n_batch"),
            F.col("n_b").alias("n_index"),
            F.expr("n_common * 1000000 div (n_a + n_b - n_common)")
            .cast("long")
            .alias("jac_e6"),
        )
    )


_COS_BLOCK = 100
# The synthetic embeddings are weakly clustered (best cosines ≈ 0.4);
# a production near-dup gate would sit at ≥ 0.9.
_COS_THRESHOLD = 0.30


# SQL twin of _cosine_block_pairs: blocked ``pairs``, then the shared
# exact-cosine step.
_COS_PAIRS_SQL = f"""
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               a.embedding AS ea, b.embedding AS eb
        FROM embeddings a JOIN embeddings b
          ON a.vec_id < b.vec_id
         AND a.vec_id // {_COS_BLOCK} = b.vec_id // {_COS_BLOCK}
    )"""

# The exact-cosine step over a ``pairs`` CTE (vec_a, vec_b, ea, eb):
# per-pair dot and squared norms → ``cosines`` (vec_a, vec_b,
# fix4-pinned cosine).  Each oracle keeps only its own pair rule.
_COS_STEP_SQL = """
    comps AS (
        SELECT vec_a, vec_b,
               SUM(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS dot,
               SUM(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)) AS na2,
               SUM(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS nb2
        FROM pairs, (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS i) s
        GROUP BY vec_a, vec_b
    ),
    cosines AS (
        SELECT vec_a, vec_b,
               FLOOR(dot / (SQRT(na2) * SQRT(nb2)) * 10000 + 0.5) / 10000
                   AS cosine
        FROM comps
    )
"""


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH {_COS_PAIRS_SQL},{_COS_STEP_SQL}
    SELECT vec_a, vec_b, cosine FROM cosines
    WHERE cosine >= {_COS_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: semantic duplicates = pairs above a
    cosine threshold, computed over deterministic id-blocks (block join
    key = vec_id div 100) so the candidate set is B·(n/B choose 2), not
    (n choose 2).  At 100 TB the block key becomes an ANN bucket
    (sim_ann_lsh_topk's tables); the verify math is identical."""
    return _cosine_block_pairs(load(spark, sf_dir, "embeddings")).filter(
        F.col("cosine") >= _COS_THRESHOLD
    )


def _cosine_block_pairs(e: DataFrame) -> DataFrame:
    """(vec_a, vec_b, cosine) over deterministic id-blocks — the shared
    candidate generator for dedup_embedding_cosine and the threshold
    calibration sweep.  Cosine is fix4-pinned (hash-safe) on the
    similarity module's dot/norm fold.  SQL twin: _COS_PAIRS_SQL, then
    _COS_STEP_SQL."""
    from engine.similarity import _dot, _norm

    # Norms are per-VECTOR: fold them once on each projection, not once
    # per pair (3× fewer 64-element folds after the block join).
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.expr(f"vec_id div {_COS_BLOCK}").alias("block_a"),
        _norm(F.col("embedding")).alias("norm_a"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.expr(f"vec_id div {_COS_BLOCK}").alias("block_b"),
        _norm(F.col("embedding")).alias("norm_b"),
    )
    cos = pin(
        _dot(F.col("ea"), F.col("eb")) / (F.col("norm_a") * F.col("norm_b")), 10000
    )
    return (
        a.join(b, (F.col("block_a") == F.col("block_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", cos.alias("cosine"))
    )


_SWEEP_BP = (2000, 2500, 3000, 3500, 4000)


@query(
    "dedup_cosine_calibration",
    oracle=f"""
    WITH {_COS_PAIRS_SQL},{_COS_STEP_SQL}
    SELECT CAST(g.threshold_bp AS BIGINT) AS threshold_bp,
           COUNT(c.cosine) AS n_pairs
    FROM (SELECT unnest([{", ".join(str(x) for x in _SWEEP_BP)}])
                 AS threshold_bp) g
    LEFT JOIN cosines c ON c.cosine >= g.threshold_bp / 10000.0
    GROUP BY g.threshold_bp
    """,
)
def dedup_cosine_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold calibration sweep for the semantic near-dup gate: how
    many candidate pairs survive at each cosine threshold — the curve a
    pipeline operator reads before picking the dedup cutoff (too low
    collapses distinct docs, too high leaks near-copies).

    Scale design: the sweep costs ONE pass over the blocked candidate
    pairs — each threshold is a conditional partial sum inside a single
    map-side-combinable aggregate (no 5× explode, no per-threshold
    rescan); the long-form result is a constant-size stack of the 1-row
    aggregate.  Zero-survivor thresholds still emit a row (count 0), so
    the curve is always complete."""
    pairs = _cosine_block_pairs(load(spark, sf_dir, "embeddings"))
    aggd = pairs.agg(
        *[
            F.sum((F.col("cosine") >= bp / 10000.0).cast("long")).alias(f"t{bp}")
            for bp in _SWEEP_BP
        ]
    )
    stack = ", ".join(f"{bp}L, t{bp}" for bp in _SWEEP_BP)
    return aggd.select(
        F.expr(
            f"stack({len(_SWEEP_BP)}, {stack}) AS (threshold_bp, n_pairs)"
        )
    )


_CC_MAX_ITERS = 16


def _neardup_edges(d: DataFrame) -> DataFrame:
    """The near-dup pair graph shared by dedup_connected_components and
    dedup_graph_degree: exact-copy edges (content-fingerprint hash join
    over the planted corpus) plus chain edges between consecutive
    originals whose token-set Jaccard ≥ 0.35.  Undirected, src < dst
    for copy edges, src = dst-1 for chain edges.

    Token sets travel as xxhash64 longs, not strings: the (doc, ts)
    shuffle payload shrinks ~6× and array_intersect compares longs —
    hashed-set Jaccard equals exact Jaccard up to ~2^-40 collisions
    (same argument as the MinHash shingle hashing above); measured
    6.2 s → 2.1 s for the edge build at sf0.1, identical edge set.
    dedup_graph_degree's DuckDB oracle recomputes this edge set with
    PLAIN STRING sets and hash-matches the degree histogram — the
    collision-freeness claim is therefore verified, not assumed."""
    corpus = _neardup_corpus(d)

    # Exact-copy edges via content-hash match (not id arithmetic — the
    # pipeline shape is hash-join-on-fingerprint, as in dedup_exact).
    hashed = corpus.select(
        "doc_id",
        F.md5(F.regexp_replace(F.col("text"), " zz yy$", "")).alias("fp"),
    )
    a = hashed.select(F.col("doc_id").alias("src"), "fp")
    b = hashed.select(F.col("doc_id").alias("dst"), F.col("fp").alias("fp_b"))
    copy_edges = (
        a.join(b, (F.col("fp") == F.col("fp_b")) & (F.col("src") < F.col("dst")))
        .select("src", "dst")
    )

    # Chain edges between consecutive originals above a Jaccard floor.
    toks = F.transform(
        F.array_distinct(_tokens(F.col("text"))), lambda t: F.xxhash64(t)
    )
    tokset = d.select("doc_id", toks.alias("ts"))
    nxt = tokset.select(
        (F.col("doc_id") - 1).alias("join_id"),
        F.col("doc_id").alias("dst"),
        F.col("ts").alias("ts_b"),
    )
    inter = F.size(F.array_intersect(F.col("ts"), F.col("ts_b")))
    union_n = F.size(F.col("ts")) + F.size(F.col("ts_b")) - inter
    chain_edges = (
        tokset.join(nxt, tokset.doc_id == nxt.join_id)
        .filter(inter.cast("double") / union_n >= 0.35)
        .select(F.col("doc_id").alias("src"), "dst")
    )
    return copy_edges.unionByName(chain_edges)


@query(
    "dedup_graph_degree",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text || ' zz yy' FROM documents
    ),
    hashed AS (
        SELECT doc_id, md5(regexp_replace(text, ' zz yy$', '')) AS fp
        FROM corpus
    ),
    copy_edges AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM hashed a JOIN hashed b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    tok AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split(lower(text), ' '),
                                         x -> x <> '')) AS ts
        FROM documents
    ),
    chain_edges AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM tok a JOIN tok b ON b.doc_id = a.doc_id + 1
        WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
              / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))
              >= 0.35
    ),
    edges AS (SELECT * FROM copy_edges UNION ALL SELECT * FROM chain_edges),
    und AS (SELECT src AS v FROM edges UNION ALL SELECT dst AS v FROM edges),
    deg AS (SELECT v, COUNT(*) AS degree FROM und GROUP BY v)
    SELECT degree, COUNT(*) AS n_vertices
    FROM deg GROUP BY degree
    """,
)
def dedup_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-dup pair graph — the graph-health
    check a dedup pipeline runs BEFORE connected components: a heavy
    tail here (one vertex touching thousands of pairs) predicts a giant
    component that collapses half the corpus, usually boilerplate.

    This key shares its edge CTEs with dedup_connected_components'
    recursive-CTE oracle (full since r12): it hash-verifies the exact
    edge set CC consumes — the oracle rebuilds the graph with plain
    string token sets, so the hashed-set Jaccard shortcut is proven
    collision-free on this corpus, not assumed.

    Scale design: degree = one explode of the edge list + two
    map-side-combinable aggs; no iteration, no window."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    edges = _neardup_edges(d)
    und = edges.select(F.col("src").alias("v")).unionByName(
        edges.select(F.col("dst").alias("v"))
    )
    deg = und.groupBy("v").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_vertices"))


@query(
    "dedup_connected_components",
    # Full oracle since r12 (was rows-only: "iterative"): DuckDB's
    # WITH RECURSIVE computes the same fixpoint declaratively — a
    # reachability closure (recursive UNION dedupes (doc, node) pairs,
    # so undirected 2-cycles terminate) then MIN(node) per doc.  The
    # edge CTEs are textually the dedup_graph_degree oracle's, so the
    # hash match proves BOTH the edge set and the star-contraction
    # loop's labels — the precedent graph_recursive_cte_native set.
    oracle="""
    WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text || ' zz yy' FROM documents
    ),
    hashed AS (
        SELECT doc_id, md5(regexp_replace(text, ' zz yy$', '')) AS fp
        FROM corpus
    ),
    copy_edges AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM hashed a JOIN hashed b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    tok AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split(lower(text), ' '),
                                         x -> x <> '')) AS ts
        FROM documents
    ),
    chain_edges AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM tok a JOIN tok b ON b.doc_id = a.doc_id + 1
        WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
              / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))
              >= 0.35
    ),
    edges AS (SELECT * FROM copy_edges UNION ALL SELECT * FROM chain_edges),
    und AS (SELECT src, dst FROM edges
            UNION ALL
            SELECT dst AS src, src AS dst FROM edges),
    reach AS (
        SELECT doc_id, doc_id AS node FROM corpus
      UNION
        SELECT r.doc_id, u.dst AS node FROM reach r JOIN und u ON u.src = r.node
    ),
    lab AS (SELECT doc_id, MIN(node) AS component_id FROM reach GROUP BY doc_id)
    SELECT doc_id,
           CAST(component_id AS BIGINT) AS component_id,
           CAST(COUNT(*) OVER (PARTITION BY component_id) AS BIGINT)
               AS comp_size
    FROM lab
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster formation: connected components over the
    near-dup pair graph via min-label propagation to convergence — the
    step a production dedup pipeline runs AFTER pair generation, so
    "keep one per pair" becomes "keep one per transitive cluster".

    Edge set (deterministic): exact-copy edges (d, d+100000) from the
    planted corpus plus chain edges (d, d+1) where consecutive docs'
    token Jaccard ≥ 0.35 — so components include multi-doc chains, not
    just pairs.  Propagation: per round, each vertex takes the min label
    over its neighborhood, then each label-GROUP takes the min over its
    members' candidates (star contraction — see the loop comment for why
    hop-min + pointer jumping alone degrades to one-hop creep), until a
    fixpoint; the rounds run in ``core.fixpoint`` (a checkpoint per
    round, each freed once the next one has materialized), and the
    convergence probe is a tiny label-sum aggregate (labels are
    monotone non-increasing, so equal consecutive sums ⇔ fixpoint) —
    the Pregel-style halting check without the probe join.  Bounded by
    _CC_MAX_ITERS; raises if the cap is hit.

    Output: (doc_id, component_id = min doc_id reachable, comp_size).
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = _neardup_corpus(d)
    # Edge set shared with (and hash-verified by) dedup_graph_degree.
    edges = _neardup_edges(d)
    both = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()

    labels = corpus.select("doc_id", F.col("doc_id").alias("label"))
    # The first rounds always change on the text graph (measured
    # 9437/7860/5641 at sf0.1): probe from round 3.
    labels = _cc_propagate(spark, both, labels, probe_from=3)

    comp_size = F.count("*").over(Window.partitionBy("label"))
    return labels.select(
        "doc_id",
        F.col("label").alias("component_id"),
        comp_size.alias("comp_size"),
    )


def _cc_propagate(
    spark: SparkSession, both: DataFrame, labels: DataFrame, probe_from: int
) -> DataFrame:
    """Star-contraction label propagation to the fixpoint.

    Plain hop-min + pointer jumping is NOT O(log d): when a smaller
    label enters a chain through an edge at one end, it creeps ONE
    vertex per round — nothing points AT the entry vertex, so path
    halving never accelerates it (observed at sf0.1: changed plateaued
    at ~6/round past the old 10-round cap, leaving non-canonical
    labels).  The missing step is the per-group reduction: after each
    member collects its neighborhood min, the GROUP takes the min over
    its members' candidates (groupBy(label).min), so a new min arriving
    at any member reaches every member — and the group's root — in one
    round.  This is the star-contraction kernel of the MapReduce CC
    family (Kiveris et al., "Connected Components in MapReduce and
    Beyond"); measured fixpoint in 7 rounds at sf0.1.

    ``probe_from`` is the first round (``core.fixpoint`` counts the seed
    as round 0) whose label sum is probed: rounds a caller knows will
    change need no probe job.
    """

    def step(labels: DataFrame) -> DataFrame:
        # 1. hop-min: each vertex's candidate = min over own + neighbor
        #    labels.  The vertex's OWN label rides along as a tagged row
        #    (own=1) and is recovered inside the same aggregation — no
        #    labels⋈hop re-join afterwards (one join per round saved).
        own = labels.select(
            "doc_id", F.col("label").alias("lab"), F.lit(1).alias("is_own")
        )
        msgs = both.join(labels, both.src == labels.doc_id).select(
            F.col("dst").alias("doc_id"),
            F.col("label").alias("lab"),
            F.lit(0).alias("is_own"),
        )
        cur = (
            own.unionByName(msgs)
            .groupBy("doc_id")
            .agg(
                F.min("lab").alias("cand"),
                # every doc has exactly one own row; max(when) plucks it
                F.max(F.when(F.col("is_own") == 1, F.col("lab"))).alias(
                    "label"
                ),
            )
        )
        # 2. star contraction: the label-group's new label = min over
        #    its members' candidates — a partition window, ONE shuffle,
        #    instead of the groupBy + re-join it replaces.
        rep_new = F.min("cand").over(Window.partitionBy("label"))
        new = cur.select("doc_id", F.least("cand", rep_new).alias("label"))
        # 3. one pointer jump keeps labels canonical between rounds
        parents = new.select(
            F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
        )
        return new.join(parents, new.label == parents.p_id, "left").select(
            "doc_id",
            F.least(F.col("label"), F.coalesce("p_label", "label")).alias("label"),
        )

    # Convergence probe: labels are MONOTONE non-increasing (every step
    # takes a min including the own label), so the label sum strictly
    # decreases until the fixpoint — equal consecutive sums ⇔ no vertex
    # changed.  One tiny aggregate job over the checkpointed labels
    # replaces the old join+filter+count probe (one join fewer per
    # probed round).  Sum accumulates in long (vertices × max-label ≪
    # 2^63) — ANSI-safe.
    return fixpoint(
        spark, labels, step,
        max_iters=_CC_MAX_ITERS,
        probe=lambda labels: labels.agg(F.sum("label")).first()[0],
        probe_from=probe_from,
        what="connected components (_CC_MAX_ITERS, the diameter cap)",
    )


@query(
    "dedup_keep_best",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text || ' zz yy' FROM documents
    ),
    fp AS (
        SELECT doc_id,
               md5(regexp_replace(text, ' zz yy$', '')) AS fp,
               length(text) AS n_chars
        FROM corpus
    ),
    ranked AS (
        SELECT doc_id, fp, n_chars,
               ROW_NUMBER() OVER (PARTITION BY fp
                                  ORDER BY n_chars ASC, doc_id ASC) AS rk,
               COUNT(*) OVER (PARTITION BY fp) AS cluster_size
        FROM fp
    )
    SELECT doc_id AS kept_doc_id,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(cluster_size - 1 AS BIGINT) AS n_dropped
    FROM ranked WHERE rk = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection — the stage AFTER duplicate
    detection: from each exact-duplicate cluster (content fingerprint
    over the planted corpus) keep ONE document by a deterministic
    quality rule (shortest text = the un-mutated original, doc_id as
    the final tiebreak), report what was kept and how many copies drop.
    Keep-BEST, not keep-first: arrival order is nondeterministic at
    scale, content-ranked selection is reproducible.

    Scale design: fingerprint is per-row map work; ranking and cluster
    size are ONE window operator over one fp partitioning (single
    shuffle; the count runs over the whole partition frame of the
    rank's spec); no join at all — the grouped-ranking form of
    dedup_exact's hash-first design."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    fp = _neardup_corpus(d).select(
        "doc_id",
        F.md5(F.regexp_replace(F.col("text"), " zz yy$", "")).alias("fp"),
        F.length("text").alias("n_chars"),
    )
    w = Window.partitionBy("fp").orderBy(F.asc("n_chars"), F.asc("doc_id"))
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        fp.select(
            "doc_id",
            F.row_number().over(w).alias("rk"),
            F.count("*").over(whole).alias("cluster_size"),
        )
        .filter(F.col("rk") == 1)
        .select(
            F.col("doc_id").alias("kept_doc_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            (F.col("cluster_size") - 1).cast("long").alias("n_dropped"),
        )
    )


_EXCERPT_OFFSET = 400_000
_EXCERPT_TOKENS = 15


@query(
    "dedup_containment_excerpt",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_EXCERPT_OFFSET},
               array_to_string(
                   list_filter(string_split(lower(text), ' '),
                               x -> x <> '')[1:{_EXCERPT_TOKENS}], ' ')
        FROM documents WHERE doc_id % 4 = 0
    ),
    tok AS (
        SELECT DISTINCT c.doc_id, t.tok
        FROM corpus c,
             UNNEST(list_filter(string_split(lower(c.text), ' '),
                    x -> x <> '')) AS t(tok)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    pairs AS (
        SELECT doc_id + {_EXCERPT_OFFSET} AS doc_a, doc_id AS doc_b
        FROM documents WHERE doc_id % 4 = 0
        UNION ALL
        SELECT doc_id, doc_id + 1
        FROM documents WHERE doc_id % 10 = 0
    ),
    commons AS (
        SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
        FROM pairs p
        JOIN tok ta ON ta.doc_id = p.doc_a
        JOIN tok tb ON tb.doc_id = p.doc_b AND tb.tok = ta.tok
        GROUP BY p.doc_a, p.doc_b
    )
    SELECT c.doc_a, c.doc_b,
           CAST(c.n_common AS INTEGER) AS n_common,
           CAST(sa.n AS INTEGER) AS n_a,
           CAST(sb.n AS INTEGER) AS n_b,
           CAST(FLOOR(10000.0 * c.n_common / LEAST(sa.n, sb.n) + 0.5)
                AS BIGINT) AS containment_bp,
           CAST(FLOOR(10000.0 * c.n_common / (sa.n + sb.n - c.n_common) + 0.5)
                AS BIGINT) AS jaccard_bp
    FROM commons c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    """,
)
def dedup_containment_excerpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT scoring — the asymmetric companion to Jaccard that
    catches EXCERPTS and quotations: C = |A∩B| / min(|A|,|B|) is ~1
    when a short doc is lifted from a long one, while Jaccard stays low
    (the planted 15-token excerpts at doc_id+400000 score containment
    ≈ 10000 bp against Jaccard ≈ 1500-3000 bp; the organic consecutive
    pairs score low on both — the contrast the dedup policy keys on).
    Broder's containment measure; in production the candidate pairs
    come from the SAME banded-MinHash bucketing the near-dup key uses.

    Scale design: the (doc, token) relation builds once (distinct
    per-doc tokens, map-side); candidate pairs join into the token
    stream unhinted (AQE broadcasts while small, shuffle-joins at
    corpus scale — the organic arm is |corpus|/10 by construction);
    everything downstream is bounded by candidate count, never
    all-pairs."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + _EXCERPT_OFFSET).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(_tokens(F.col("text")), 1, _EXCERPT_TOKENS)
        ).alias("text"),
    )
    corpus = d.unionByName(excerpts)
    tok = corpus.select(
        "doc_id", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("tok")
    )
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n"))
    planted = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + _EXCERPT_OFFSET).alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
    )
    organic = d.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + 1).alias("doc_b"),
    )
    pairs = planted.unionByName(organic)
    ta = tok.withColumnRenamed("doc_id", "doc_a")
    tb = tok.select(
        F.col("doc_id").alias("b_id"), F.col("tok").alias("tok_b")
    )
    # pairs includes an |corpus|/10 organic arm — corpus-proportional, so
    # no hard broadcast hint (AQE size-selects; shuffle join at scale).
    commons = (
        ta.join(pairs, "doc_a")
        .join(
            tb,
            (F.col("doc_b") == F.col("b_id")) & (F.col("tok") == F.col("tok_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        commons.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("int").alias("n_common"),
            F.col("n_a").cast("int").alias("n_a"),
            F.col("n_b").cast("int").alias("n_b"),
            pin_int(10000.0 * F.col("n_common") / F.least("n_a", "n_b"), 1).alias(
                "containment_bp"
            ),
            pin_int(
                10000.0
                * F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                1,
            ).alias("jaccard_bp"),
        )
    )


_CHUNK_W = 10  # tokens per chunk (C4/Dolma-style span granularity)


@query(
    "dedup_chunk_exact",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE len(string_split(text, ' ')) > 0
    ),
    c AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx,
               array_to_string(list_slice(toks, u.i*10 + 1, u.i*10 + 10), ' ')
                   AS chunk
        FROM t, UNNEST(range(0, CAST(CEIL(len(toks) / 10.0) AS BIGINT))) AS u(i)
    ),
    r AS (
        SELECT doc_id, chunk,
               ROW_NUMBER() OVER (PARTITION BY chunk
                                  ORDER BY doc_id, chunk_idx) AS rn
        FROM c
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn = 1 THEN len(string_split(chunk, ' '))
                         ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM r GROUP BY doc_id
    """,
)
def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SPAN-level dedup (the C4/Dolma "line dedup" op, adapted:
    corpus docs are newline-free token streams, so the span unit is a
    fixed 10-token chunk).  Every doc is chunked; a chunk occurring in
    several places survives only at its FIRST occurrence (min doc_id,
    then chunk_idx); per doc we report total vs surviving chunks and
    surviving token mass — the numbers a corpus-cleaning pipeline
    feeds its retention dashboard.

    Array discipline (CLAUDE.md traps): ``toks`` is materialized as a
    projected column BEFORE the transform lambda references it (a
    computed split() inside the lambda re-evaluates per element —
    measured O(n²)); the chunk-count sequence() lower bound is safe
    because empty docs are filtered first (Spark sequence DESCENDS on
    1..0 where DuckDB range() returns empty); Spark slice() takes
    (start, LENGTH) vs DuckDB list_slice (start, inclusive END).

    Scale: chunking is map-side (posexplode, no shuffle); first-
    occurrence ranking shuffles once on the chunk string (at 100 TB
    you'd shard on xxhash64(chunk) — same partitioning, narrower
    shuffle rows — and keep the string only for in-partition tie
    confirmation); the per-doc rollup shuffles on doc_id.  Window
    groups are per-chunk (bounded by duplication factor), never
    corpus-wide."""
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            "toks",
            F.ceil(F.size("toks") / _CHUNK_W).cast("int").alias("nch"),
        )
    )
    chunks = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("nch") - 1),
                lambda i: F.array_join(
                    F.slice(F.col("toks"), i * _CHUNK_W + 1, F.lit(_CHUNK_W)),
                    " ",
                ),
            )
        ).alias("chunk_idx", "chunk"),
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
    ranked = chunks.select(
        "doc_id",
        "chunk",
        F.row_number().over(w).alias("rn"),
    )
    kept = F.when(F.col("rn") == 1, 1).otherwise(0)
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(kept).alias("n_kept"),
        F.sum(
            F.when(
                F.col("rn") == 1, F.size(F.split(F.col("chunk"), " "))
            ).otherwise(0)
        ).cast("long").alias("kept_tokens"),
    )


@query(
    "dedup_substring_sentence",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               string_split(' ' || text || ' ', ' the ') AS frags
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               list_filter(list_transform(frags, x -> trim(x)),
                           x -> x <> '') AS sents
        FROM t
    ),
    e AS (
        SELECT doc_id,
               CAST(generate_subscripts(sents, 1) - 1 AS BIGINT)
                   AS sent_idx,
               unnest(sents) AS sent
        FROM s
    ),
    r AS (
        SELECT doc_id, sent,
               ROW_NUMBER() OVER (PARTITION BY sent
                                  ORDER BY doc_id, sent_idx) AS rn
        FROM e
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_sents,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN rn = 1 THEN len(string_split(sent, ' '))
                         ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM r GROUP BY doc_id
    """,
)
def dedup_substring_sentence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level exact substring dedup — the C4 variant of
    dedup_chunk_exact on NATURAL span boundaries instead of fixed
    10-token chunks.  The corpus ships punctuation-free token streams,
    so the sentence delimiter is content-derived: the high-frequency
    token ``the`` plays the role newline/period plays in C4 (split on
    ``' the '`` over the space-padded text, trim, drop empties).  The
    spans are therefore VARIABLE-LENGTH and content-aligned — a
    duplicated passage keeps its span identity regardless of its token
    offset, which is exactly what fixed-width chunking loses (a 1-token
    prefix shift re-keys every downstream chunk; a sentence split is
    shift-invariant past the first boundary).

    First occurrence survives (min doc_id, then sent_idx — the C4
    keep-first rule); per doc the retention report: total spans,
    surviving spans, surviving token mass.

    Dialect notes: both engines scan-split left-to-right non-overlapping
    on the literal ``' the '``; Spark split keeps trailing empties
    (limit -1) where Java's drops them, and DuckDB keeps all — the
    trim+filter normalizes both.  Empty sentence lists yield zero rows
    on both sides (posexplode of [] ≡ unnest of []), so all-delimiter
    docs drop from the report identically.

    Scale: splitting is map-side; the only data shuffles are the
    first-occurrence rank on the sentence string (at 100 TB: shard on
    xxhash64(sent), bounded per-sentence groups) and the per-doc
    rollup — the same two-exchange shape as dedup_chunk_exact."""
    frags = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(
            F.concat(F.lit(" "), F.col("text"), F.lit(" ")), " the "
        ).alias("frags"),
    )
    sents = frags.select(
        "doc_id",
        F.filter(
            F.transform("frags", lambda x: F.trim(x)),
            lambda x: x != "",
        ).alias("sents"),
    )
    exploded = sents.select(
        "doc_id", F.posexplode("sents").alias("sent_idx", "sent")
    )
    w = Window.partitionBy("sent").orderBy("doc_id", "sent_idx")
    ranked = exploded.select(
        "doc_id", "sent", F.row_number().over(w).alias("rn")
    )
    kept = F.when(F.col("rn") == 1, 1).otherwise(0)
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_sents"),
        F.sum(kept).cast("long").alias("n_kept"),
        F.sum(
            F.when(
                F.col("rn") == 1, F.size(F.split(F.col("sent"), " "))
            ).otherwise(0)
        ).cast("long").alias("kept_tokens"),
    )


@query(
    "dedup_cross_source_matrix",
    oracle="""
    WITH corpus AS (
        SELECT source, text FROM documents
        UNION ALL
        SELECT 'mirror' AS source, text FROM documents WHERE doc_id % 7 = 0
    ),
    sfp AS (
        SELECT DISTINCT source, md5(text) AS fp FROM corpus
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(DISTINCT a.fp) AS BIGINT) AS n_shared
    FROM sfp a JOIN sfp b
      ON a.fp = b.fp AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE contamination matrix — the corpus-audit table a
    training-data pipeline builds before mixing sources: for every
    source pair, how many distinct documents (by content fingerprint)
    appear in BOTH.  High off-diagonal mass means the mixture weights
    double-count content (a mirror, a scrape of a scrape) and the dedup
    pass must run across sources, not per source.  A 'mirror' source
    republishing every seventh document is planted so the matrix is
    non-trivial; the natural corpus is verified disjoint by the same
    query (no (srcA, srcB) rows survive — texts are unique).  The
    mirror plants on doc_id % 7 — COPRIME with the corpus' 20-source
    doc_id cycle, so every source shares content with the mirror and
    the per-pair counts vary (% 4 aliased with the cycle and hit only
    5 sources at a constant 25).

    Scale design: fingerprints reduce each doc to 32 bytes before any
    shuffle; the per-source DISTINCT and the fp self-join are both
    fp-partitioned (one exchange serves distinct + join, subset rule),
    and the join is fingerprint-bucket-local — sources sharing no
    content never pair.  The matrix itself is |sources|² bounded.
    No broadcast hints: both join sides are corpus-proportional
    (r12 audit)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    mirror = d.filter(F.col("doc_id") % 7 == 0).select(
        F.lit("mirror").alias("source"), "text"
    )
    sfp = (
        d.select("source", "text")
        .unionByName(mirror)
        .select("source", F.md5("text").alias("fp"))
        .distinct()
    )
    a = sfp.select(F.col("source").alias("source_a"), "fp")
    b = sfp.select(F.col("source").alias("source_b"), F.col("fp").alias("fp_b"))
    return (
        a.join(b, (F.col("fp") == F.col("fp_b")) & (F.col("source_a") < F.col("source_b")))
        .groupBy("source_a", "source_b")
        .agg(F.countDistinct("fp").alias("n_shared"))
    )


# -- cross-lingual near-dup (r13 VERDICT #7c) ------------------------------
#
# Planted translations: docs with doc_id % 11 == 0 (11 is prime —
# coprime with the 20-source cycle and every other plant residue)
# republish under the NEXT language in the en→de→es→fr→zh cycle with
# every token replaced by that language's lexicon form.  The foreign
# surface form 'x<lid>_<(t31(canon)·(lid+2)) mod M31>' is NOT
# string-invertible — recovering the canonical stream REQUIRES the
# lexicon join, which is the operator under test (the production
# shape: a bounded bilingual lexicon broadcast against a 100 TB token
# stream).  Normalized streams of a mirror and its origin are
# IDENTICAL, so Jaccard = 1 and every band matches: recovery is
# deterministic, not LSH-probabilistic.
_XL_RES = 11
_XL_NEXT_SQL = (
    "CASE lang WHEN 'en' THEN 'de' WHEN 'de' THEN 'es' "
    "WHEN 'es' THEN 'fr' WHEN 'fr' THEN 'zh' ELSE 'en' END"
)
_KR_T31_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split_regex({c}, ''), "
    "c -> CAST(ascii(c) AS BIGINT))), "
    f"(h, c) -> (h * 31 + c) % {_FP_MOD}) % {_M31}"
)

_XL_CORPUS_SQL = f"""langs AS (
        SELECT * FROM (VALUES ('en', 0), ('de', 1), ('es', 2),
                              ('fr', 3), ('zh', 4)) AS v(lang, lid)
    ),
    dtok AS (
        SELECT doc_id, lang, generate_subscripts(t, 1) AS pos,
               unnest(t) AS tok
        FROM (SELECT doc_id, lang,
                     {_TOKENS_SQL.format(c="text")} AS t
              FROM documents)
    ),
    vh AS (
        SELECT tok AS canon, {_KR_T31_SQL.format(c="tok")} AS ch
        FROM (SELECT DISTINCT tok FROM dtok)
    ),
    lex AS (
        SELECT v.canon, v.ch, l.lang,
               'x' || CAST(l.lid AS VARCHAR) || '_'
                   || CAST((v.ch * (l.lid + 2)) % {_M31} AS VARCHAR) AS ftok
        FROM vh v, langs l
    ),
    mirror AS (
        SELECT d.doc_id + {_COPY_OFFSET} AS doc_id, d.nl AS lang,
               string_agg(lx.ftok, ' ' ORDER BY d.pos) AS text
        FROM (SELECT doc_id, pos, tok, {_XL_NEXT_SQL} AS nl
              FROM dtok WHERE doc_id % {_XL_RES} = 0) d
        JOIN lex lx ON lx.canon = d.tok AND lx.lang = d.nl
        GROUP BY 1, 2
    ),
    corpus AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL
        SELECT doc_id, lang, text FROM mirror
    ),
    ctok AS (
        SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok
        FROM (SELECT doc_id, {_TOKENS_SQL.format(c="text")} AS t
              FROM corpus)
    ),
    thl AS (
        SELECT doc_id, list(th ORDER BY pos) AS th FROM (
            SELECT c.doc_id, c.pos,
                   COALESCE(lx.ch, {_KR_T31_SQL.format(c="c.tok")}) AS th
            FROM ctok c LEFT JOIN lex lx ON lx.ftok = c.tok
        ) GROUP BY doc_id
    ),
    sh AS (
        SELECT DISTINCT doc_id, s.sh
        FROM thl, UNNEST(list_distinct(list_transform(
             range(1, GREATEST(len(th) - 1, 1)),
             i -> (((th[CAST(i AS INTEGER)] * 131
                     + th[CAST(i AS INTEGER) + 1]) % {_M31}) * 131
                   + th[CAST(i AS INTEGER) + 2]) % {_M31}))) AS s(sh)
    )"""


@query(
    "dedup_crosslingual_minhash",
    oracle=f"""
    WITH {_XL_CORPUS_SQL},
    {_KR_MH_PAIRS_CTES}
    SELECT p.doc_a, p.doc_b, la.lang AS lang_a, lb.lang AS lang_b,
           p.n_common, p.n_a, p.n_b,
           CAST(p.n_common * 1000000 // (p.n_a + p.n_b - p.n_common)
                AS BIGINT) AS jac_e6
    FROM mh_pairs p
    JOIN corpus la ON la.doc_id = p.doc_a
    JOIN corpus lb ON lb.doc_id = p.doc_b
    WHERE la.lang <> lb.lang
    """,
)
def dedup_crosslingual_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual near-duplicate detection (r12 VERDICT #7c):
    documents republished in ANOTHER LANGUAGE are found by normalizing
    every token through a bilingual lexicon to a canonical stream,
    then running the repo's hash-verified KR MinHash+LSH chain
    (:func:`kr_pairs_from_sh`) over the NORMALIZED shingles and
    keeping only pairs whose language tags differ.  This is the
    multilingual-corpus dedup shape (mC4/OSCAR-style): translations
    collapse onto one canonical token stream, so set similarity is
    computed language-independently.

    Pipeline: derive the lexicon (canonical vocab × 5 languages,
    foreign form = a non-invertible hash render — the join is load-
    bearing, not cosmetic); plant mirrors (every 11th doc republished
    in the next language through the lexicon); normalize the unioned
    corpus by the reverse lexicon join (canonical tokens pass through
    via COALESCE onto their own KR hash); shingle the normalized hash
    stream with two lead() windows; minhash → band → bucket join →
    exact-Jaccard verify; filter to lang_a <> lang_b.

    Scale design: the lexicon is VOCABULARY-sized (Heaps' law —
    sublinear in corpus size) but not bounded by construction, so both
    lexicon joins are unhinted and AQE size-selects (r12 broadcast-
    audit policy); the normalize → window → distinct chain runs on ONE
    doc_id exchange (the lead window's, which the distinct reuses).  Its
    token hashes come from the lexicon join, not from text, so the text
    kernel :func:`_kr_shingles` cannot build this stream.  The pair
    chain inherits the banded-LSH never-all-pairs shape.  A planted
    mirror's normalized stream equals its origin's exactly (token-
    level bijection), so recall is deterministic — no banding-draw
    recall floor needed."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    tok = d.select(
        "doc_id", "lang",
        F.posexplode(_tokens(F.col("text"))).alias("pos", "tok"),
    )
    # vocab from per-doc array_distinct BEFORE the explode: the global
    # distinct's shuffle then carries per-doc-unique tokens (~2× fewer
    # rows than the raw token stream), and the char fold runs once per
    # vocab entry, after the distinct
    vh = (
        d.select(
            F.explode(F.array_distinct(_tokens(F.col("text")))).alias("canon")
        )
        .distinct()
        .select("canon", _kr_t31(F.col("canon")).alias("ch"))
    )
    langs = spark.range(1).select(
        F.explode(
            F.array(*[
                F.struct(F.lit(l).alias("lang"), F.lit(i).alias("lid"))
                for i, l in enumerate(["en", "de", "es", "fr", "zh"])
            ])
        ).alias("s")
    ).select("s.lang", "s.lid")
    # lex feeds BOTH the mirror construction and the normalize join,
    # and its lineage contains the vocab distinct shuffle + per-char
    # fold — persist the diamond (CLAUDE.md rule; ~vocab×5 rows)
    lex = vh.crossJoin(F.broadcast(langs)).select(
        "canon", "ch", "lang",
        F.concat(
            F.lit("x"), F.col("lid").cast("string"), F.lit("_"),
            ((F.col("ch") * (F.col("lid") + 2)) % _M31).cast("string"),
        ).alias("ftok"),
    ).persist()
    # Eager (r17 opt): lex feeds the mirror join AND the normalize join
    # inside ONE downstream action — a lazy persist let both consumers
    # race the vocab-distinct + char-fold subtree into computing twice.
    # Same for corpus below (shingle stream + two lang-tag lookups).
    # Measured same-session warm 3x: base [6.19, 4.92, 4.72] vs both
    # eager [4.88, 4.80, 3.83] s — eager wins every round.
    lex.count()
    nxt = F.expr(_XL_NEXT_SQL)
    planted = tok.filter(F.col("doc_id") % _XL_RES == 0).select(
        "doc_id", "pos", "tok", nxt.alias("nl")
    )
    mirror = (
        planted.join(
            lex,
            (F.col("canon") == F.col("tok")) & (lex["lang"] == F.col("nl")),
        )
        .groupBy("doc_id", "nl")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "ftok"))),
                    lambda s: s["ftok"],
                ),
                " ",
            ).alias("text")
        )
        .select(
            (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"),
            F.col("nl").alias("lang"),
            "text",
        )
    )
    # corpus feeds the shingle stream AND both lang-tag lookups; its
    # mirror arm re-runs the lexicon join + reassembly agg per consumer
    # — persist the diamond, eagerly (see the lex comment above)
    corpus = d.unionByName(mirror).persist()
    corpus.count()
    ctok = corpus.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos", "tok")
    )
    nhash = ctok.join(
        lex.select("ftok", "ch"), ctok["tok"] == F.col("ftok"), "left"
    ).select(
        "doc_id", "pos",
        F.coalesce(F.col("ch"), _kr_t31(F.col("tok"))).alias("t31"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    sh_col = (
        (F.col("t31") * 131 + F.lead("t31", 1).over(w)) % _M31 * 131
        + F.lead("t31", 2).over(w)
    ) % _M31
    sh = (
        nhash.select("doc_id", sh_col.alias("sh"))
        .where(F.col("sh").isNotNull())
        .distinct()
    )
    pairs = kr_pairs_from_sh(sh, eager=True)
    clang = corpus.select("doc_id", "lang")
    return (
        pairs.join(
            clang.select(F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a")),
            "doc_a",
        )
        .join(
            clang.select(F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b")),
            "doc_b",
        )
        .filter(F.col("lang_a") != F.col("lang_b"))
        .select(
            "doc_a", "doc_b", "lang_a", "lang_b",
            "n_common", "n_a", "n_b", "jac_e6",
        )
    )


# -- MinHash estimator calibration (r14 breadth: sketch-quality eval) -------
_AGREE_SQL = " + ".join(
    f"(CASE WHEN ma.m{i} = mb.m{i} THEN 1 ELSE 0 END)"
    for i in range(_N_HASHES)
)


@query(
    "dedup_minhash_calibration",
    oracle=f"""
    WITH {_KR_SHINGLES_SQL},
    {_KR_MH_PAIRS_CTES},
    agree AS (
        SELECT c.doc_a, c.doc_b,
               CAST({_AGREE_SQL} AS BIGINT) AS n_agree
        FROM cand c
        JOIN mins ma ON ma.doc_id = c.doc_a
        JOIN mins mb ON mb.doc_id = c.doc_b
    )
    SELECT i.doc_a, i.doc_b, a.n_agree,
           CAST(a.n_agree * 625 AS BIGINT) AS est_e4,
           CAST((10000 * i.n_common) // (sa.n + sb.n - i.n_common)
                AS BIGINT) AS jac_e4,
           CAST(ABS(a.n_agree * 625
                    - (10000 * i.n_common) // (sa.n + sb.n - i.n_common))
                AS BIGINT) AS abs_err_e4
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    JOIN agree a ON a.doc_a = i.doc_a AND a.doc_b = i.doc_b
    """,
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality CALIBRATION report for the KR MinHash family —
    the estimator-vs-truth eval next to sim_ann_recall_eval's index
    eval: for every banded candidate pair (≥1 shared shingle), the
    signature-agreement Jaccard estimate (n_agree/16, emitted as the
    exact integer n_agree·625 in e4) against the exact Jaccard
    (integer-division e4), plus the absolute error — what a dedup
    deployment inspects before trusting a threshold (E[n_agree/16] =
    J; observed spread at 16 hashes is the operating noise).  The
    whole report is exact integer arithmetic over the SAME mins/cand/
    inter CTEs the dedup keys commit (one chain, shared text — the
    calibration can never desync from the dedup it grades).

    Scale shape: kr_minhash chain discipline — persisted shingle
    diamond, columnar 16-min reduce, bucket-local band join; the
    agreement join touches only candidate pairs × the 16-column
    signature table (never all-pairs); candidate-verify joins stay
    unhinted (AQE size-selects).  mins persists (3 consumers: bands +
    both agreement sides); its subtree is one groupBy over the cached
    sh — lazy is the measured-cheap choice (kr_pairs_from_sh default,
    minhash_polyhash precedent)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    sh = _kr_shingles(_neardup_corpus(d)).persist()
    mins = _mh_mins(sh).persist()
    # Eager: mins feeds the band self-join AND both agreement sides (3
    # racing consumers through one cache) — measured warm mins-of-3 at
    # sf0.1: lazy 3.72 vs eager 3.43 s (sh stays lazy: eager-both 3.27
    # was inside the same noise band, one extra job not justified).
    mins.count()
    cand = _mh_cand(_mh_bands(mins))
    ma = mins.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(f"m{i}").alias(f"ma{i}") for i in range(_N_HASHES)],
    )
    mb = mins.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"m{i}").alias(f"mb{i}") for i in range(_N_HASHES)],
    )
    n_agree = sum(
        F.when(F.col(f"ma{i}") == F.col(f"mb{i}"), 1).otherwise(0)
        for i in range(_N_HASHES)
    ).cast("long")
    agree = (
        cand.join(ma, cand.doc_a == ma.a_id)
        .join(mb, cand.doc_b == mb.b_id)
        .select("doc_a", "doc_b", n_agree.alias("n_agree"))
    )
    jac_e4 = F.expr("(10000 * n_common) div (n_a + n_b - n_common)")
    est_e4 = (F.col("n_agree") * 625).cast("long")
    return (
        _kr_overlap(sh, cand)
        .join(agree, ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            est_e4.alias("est_e4"),
            jac_e4.alias("jac_e4"),
            F.abs(est_e4 - jac_e4).alias("abs_err_e4"),
        )
    )


# -- bloom "seen before" gate (r15: the fixed-memory membership screen a
# -- crawler runs against its whole history before paying exact dedup) ------
_BG_M = 1 << 16  # bloom slots: FIXED size regardless of corpus (the point)
_BG_K = 3        # hash probes per key
_BG_A = [(2654435761 * (2 * j + 5)) % _M31 or 1 for j in range(_BG_K)]
_BG_B = [(40503 * (j + 3) * (j + 3) + 987654321 + 7 * j) % _M31
         for j in range(_BG_K)]
_BG_NEW_OFFSET = 300_000  # batch ids (distinct from every other plant)


def _bg_oracle() -> str:
    hashes = ", ".join(
        f"({j}, {_BG_A[j]}, {_BG_B[j]})" for j in range(_BG_K)
    )
    return f"""
    WITH v1 AS (
        SELECT DISTINCT
               CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS k
        FROM documents
    ),
    h(j, a, b) AS (VALUES {hashes}),
    bits AS (
        SELECT DISTINCT ((h.a * (v1.k % {_M31}) + h.b) % {_M31}) % {_BG_M}
                   AS pos
        FROM v1 CROSS JOIN h
    ),
    batch AS (
        SELECT doc_id + {_BG_NEW_OFFSET} AS new_id,
               CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS k
        FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id + {_BG_NEW_OFFSET},
               CAST('0x' || substring(md5(text || ' fresh'), 1, 15)
                    AS BIGINT)
        FROM documents WHERE doc_id % 3 = 1
    ),
    probed AS (
        SELECT b.new_id, b.k,
               CAST(SUM(CASE WHEN bits.pos IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pos_hits
        FROM batch b
        CROSS JOIN h
        LEFT JOIN bits
          ON bits.pos = ((h.a * (b.k % {_M31}) + h.b) % {_M31}) % {_BG_M}
        GROUP BY b.new_id, b.k
    ),
    flagged AS (
        SELECT p.new_id, p.n_pos_hits,
               CASE WHEN v1.k IS NOT NULL THEN 1 ELSE 0 END AS is_exact
        FROM probed p LEFT JOIN v1 ON v1.k = p.k
    )
    SELECT new_id, n_pos_hits,
           CAST(is_exact AS INTEGER) AS is_exact,
           CASE WHEN n_pos_hits = {_BG_K} AND is_exact = 1 THEN 'dup'
                WHEN n_pos_hits = {_BG_K} THEN 'false_positive'
                WHEN is_exact = 1 THEN 'MISS_BUG'
                ELSE 'new' END AS label
    FROM flagged
    """


@query("dedup_bloom_seen_gate", oracle=_bg_oracle())
def dedup_bloom_seen_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM "seen before" GATE — the fixed-memory membership screen a
    100 TB crawler runs on every incoming batch before paying exact
    dedup: the whole seen-corpus folds into a 65536-slot bit set
    (content key = the first 60 bits of md5, probed at 3
    universal-hash positions), the new batch (planted: verbatim
    re-crawls at doc_id%3=0, genuinely-new texts at %3=1) checks its
    positions against it, and each doc is labeled dup / new /
    false_positive.  No false negatives by construction (an exact
    member's positions are all set), so 'MISS_BUG' appearing means the
    gate is broken — the unit test pins its absence and the oracle
    replays the classification bit-for-bit (every hash in the chain is
    the repo's deterministic polyhash; the md5→int key is conv() here,
    CAST('0x…') there, equal by fn_hash_md5's cross-engine md5 parity).

    Scale: the bit set is ≤ 65536 distinct positions REGARDLESS of
    corpus size — always broadcastable (that is the bloom trade), so
    the gate itself is one map-side probe per batch row, no shuffle of
    the seen set.  The exact-membership join here is the AUDIT that
    hash-verifies the false-positive labels (the CMS exact_count
    discipline); production keeps only the broadcast probe and routes
    hits to verification."""
    d = load(spark, sf_dir, "documents")
    key = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    # v1 feeds BOTH the bit-set build and the exact-membership audit:
    # persist + eager count, or each consumer re-derives the documents
    # scan + per-row md5/conv + the distinct's exchange (the
    # referenced-more-than-once persist rule).
    v1 = d.select(key.alias("k")).distinct().persist()
    v1.count()
    pos_of = lambda j, k: ((F.lit(_BG_A[j]) * (k % _M31) + F.lit(_BG_B[j]))  # noqa: E731
                           % _M31) % _BG_M
    bits = (
        v1.select(
            F.explode(
                F.array(*[pos_of(j, F.col("k")) for j in range(_BG_K)])
            ).alias("pos")
        )
        .distinct()
        .withColumn("present", F.lit(1))
    )
    batch = (
        d.filter(F.col("doc_id") % 3 == 0)
        .select(
            (F.col("doc_id") + _BG_NEW_OFFSET).alias("new_id"),
            key.alias("k"),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 3 == 1).select(
                (F.col("doc_id") + _BG_NEW_OFFSET).alias("new_id"),
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("text"), F.lit(" fresh"))), 1, 15
                    ),
                    16,
                    10,
                ).cast("long").alias("k"),
            )
        )
    )
    probed = (
        batch.select(
            "new_id",
            "k",
            F.explode(
                F.array(*[pos_of(j, F.col("k")) for j in range(_BG_K)])
            ).alias("pos"),
        )
        .join(F.broadcast(bits), "pos", "left")
        .groupBy("new_id", "k")
        .agg(F.sum(F.coalesce(F.col("present"), F.lit(0))).alias("n_pos_hits"))
    )
    flagged = probed.join(
        v1.withColumn("exact", F.lit(1)), "k", "left"
    ).select(
        "new_id",
        "n_pos_hits",
        F.coalesce(F.col("exact"), F.lit(0)).alias("is_exact"),
    )
    return flagged.select(
        "new_id",
        "n_pos_hits",
        "is_exact",
        F.when(
            (F.col("n_pos_hits") == _BG_K) & (F.col("is_exact") == 1),
            F.lit("dup"),
        )
        .when(F.col("n_pos_hits") == _BG_K, F.lit("false_positive"))
        .when(F.col("is_exact") == 1, F.lit("MISS_BUG"))
        .otherwise(F.lit("new"))
        .alias("label"),
    )


# ---------------------------------------------------------------------------
# train-vs-train repeated-substring dedup (r16: the Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" shape at
# position granularity — the corpus-side twin of the eval-side
# text_decontaminate_spans machinery, engine/text.py)
# ---------------------------------------------------------------------------

_SSIM_W = 8      # anchor width in tokens — detects all runs >= W
_SSIM_MIN = 12   # report threshold: emitted spans must run >= this
_SSIM_DFCAP = 64  # anchor skew guard: drop grams seen > cap times

# Full self-sim span-detection CTE chain (through `spans`) — shared by
# the locate key (dedup_span_selfsim) and the scrub key
# (dedup_span_scrub_self) so anchor/threshold/cap semantics can never
# drift between them (the _SPAN_CTES_SQL discipline, engine/text.py).
_SSIM_CTES_SQL = f"""toks AS MATERIALIZED (
        SELECT doc_id, {_TOKENS_SQL.format(c="text")} AS t FROM documents
    ),
    g0 AS MATERIALIZED (
        SELECT doc_id, i AS pos,
               array_to_string(list_slice(t, i, i + {_SSIM_W} - 1), ' ')
                   AS gram
        FROM toks,
             UNNEST(range(1, GREATEST(len(t) - {_SSIM_W} + 1, 0) + 1)) AS s(i)
    ),
    g AS MATERIALIZED (
        SELECT doc_id, pos, gram FROM (
            SELECT doc_id, pos, gram,
                   COUNT(*) OVER (PARTITION BY gram) AS df
            FROM g0
        ) WHERE df <= {_SSIM_DFCAP}
    ),
    hits AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS a_pos, a.pos - b.pos AS diag
        FROM g a JOIN g b USING (gram)
        WHERE a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT doc_a, doc_b, diag, a_pos,
               a_pos - ROW_NUMBER() OVER (
                   PARTITION BY doc_a, doc_b, diag ORDER BY a_pos) AS grp
        FROM hits
    ),
    spans AS (
        SELECT doc_a, doc_b, diag, MIN(a_pos) AS a_start,
               MAX(a_pos) - MIN(a_pos) + {_SSIM_W} AS span_len
        FROM isl GROUP BY doc_a, doc_b, diag, grp
        HAVING MAX(a_pos) - MIN(a_pos) + {_SSIM_W} >= {_SSIM_MIN}
    )"""


def _selfsim_spans(spark: SparkSession, sf_dir: str):
    """(toks, spans) frames of the self-sim span chain — the Spark twin
    of :data:`_SSIM_CTES_SQL`, shared by the locate and scrub keys.
    toks = (doc_id, t token-array); spans = maximal >= 12-token
    verbatim cross-doc runs (doc_a < doc_b, diag, a_start, span_len).
    The df-gated anchor frame feeds both sides of its self-join; it is
    persisted and materialized once per session through
    :func:`engine.core.session_memo`."""
    return session_memo(spark, "selfsim_spans", sf_dir,
                        lambda: _build_selfsim_spans(spark, sf_dir))


def _build_selfsim_spans(spark: SparkSession, sf_dir: str):
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens(F.col("text")).alias("t"))
    tok = toks.select(
        "doc_id", F.posexplode("t").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    wl = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [
        F.lead("tok", k).over(wl) for k in range(1, _SSIM_W)
    ]
    g0 = (
        tok.select(
            "doc_id",
            "pos",
            F.concat_ws(" ", *parts).alias("gram"),
            F.lead("tok", _SSIM_W - 1).over(wl).alias("l_last"),
        )
        .filter(F.col("l_last").isNotNull())
        .drop("l_last")
    )
    wg = Window.partitionBy("gram")
    g = (
        g0.withColumn("df", F.count("*").over(wg))
        .filter(F.col("df") <= _SSIM_DFCAP)
        .drop("df")
        .persist()
    )
    a = g.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("a_pos"), "gram"
    )
    b = g.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("b_pos"), "gram"
    )
    hits = (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "a_pos",
            (F.col("a_pos") - F.col("b_pos")).alias("diag"),
        )
    )
    wi = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("a_pos")
    spans = (
        hits.withColumn("grp", F.col("a_pos") - F.row_number().over(wi))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("a_pos").alias("a_start"),
            (F.max("a_pos") - F.min("a_pos") + _SSIM_W).alias("span_len"),
        )
        .filter(F.col("span_len") >= _SSIM_MIN)
    )
    return (toks, spans), [g]


@query(
    "dedup_span_selfsim",
    oracle=f"""
    WITH {_SSIM_CTES_SQL}
    SELECT CAST(doc_a AS BIGINT) AS doc_a,
           CAST(doc_b AS BIGINT) AS doc_b,
           CAST(a_start AS BIGINT) AS a_start,
           CAST(a_start - diag AS BIGINT) AS b_start,
           CAST(span_len AS BIGINT) AS span_len,
           array_to_string(
               list_slice(k.t, a_start, a_start + span_len - 1), ' ')
               AS span_text
    FROM spans JOIN toks k ON k.doc_id = spans.doc_a
    """,
)
def dedup_span_selfsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN-vs-TRAIN repeated-substring dedup at POSITION granularity
    (Lee et al. 2022, deduplicating-repeated-substrings): every maximal
    verbatim token run >= 12 tokens shared between two DIFFERENT
    training documents, with exact start offsets on BOTH sides — the
    corpus-side sibling of text_decontaminate_spans (which points the
    same anchors-on-a-diagonal machinery at a bounded eval set).
    Downstream, a scrubber cuts the doc_b occurrence and keeps doc_a's
    (the doc_a < doc_b orientation makes "first occurrence wins"
    deterministic).

    Algorithm: positioned 8-token anchor grams built JVM-side from ONE
    per-doc window (7 ``lead``s over the posexploded token stream — no
    per-position HOF slice: an 8-wide indexed ``transform`` costs ~8
    interpreted element_at evals per position, the winnowing trap);
    anchors self-join on the gram string (doc_a < doc_b); consecutive
    hits on one alignment DIAGONAL (a_pos - b_pos) merge into maximal
    runs via gaps-and-islands; a run of W matching tokens yields exactly
    W-7 consecutive anchor hits, so span_len = max - min + 8
    reconstructs W exactly.

    Scale design: unlike the eval-side key there is NO broadcastable
    side — the anchor stream self-joins at corpus scale, which is safe
    exactly because 8-gram anchors are RARE (candidate volume is
    sum(df^2) over grams, near-linear for W=8; 3-grams would square the
    stop-phrase mass).  The residual skew risk — one boilerplate gram
    repeated across the corpus — is capped by df <= 64 (oracle-mirrored;
    a no-op on this corpus where max df = 3, by design: the guard bounds
    the worst case without changing observed semantics).  Shuffle
    audit: exchange 1 = per-doc lead window; exchange 2 = gram window
    for the df gate, whose partitioning the self-join then REUSES (both
    sides read the same persisted, gram-partitioned frame — subset
    rule, no third exchange for the join); exchange 3 = the islands
    window on (doc_a, doc_b, diag), whose groupBy keys are a superset.
    The persisted anchor frame is eagerly materialized before the
    self-join (r12: a lazy persist feeding both sides of a self-join
    gets raced and computes the subtree twice)."""
    toks, spans = _selfsim_spans(spark, sf_dir)
    return spans.join(
        toks.select(F.col("doc_id").alias("doc_a"), "t"), "doc_a"
    ).select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("a_start").cast("long").alias("a_start"),
        (F.col("a_start") - F.col("diag")).cast("long").alias("b_start"),
        F.col("span_len").cast("long").alias("span_len"),
        F.array_join(
            F.slice(
                F.col("t"),
                F.col("a_start").cast("int"),
                F.col("span_len").cast("int"),
            ),
            " ",
        ).alias("span_text"),
    )


@query(
    "dedup_span_scrub_self",
    oracle=f"""
    WITH {_SSIM_CTES_SQL},
    cov AS (
        SELECT DISTINCT doc_b, CAST(p AS BIGINT) AS cpos
        FROM spans, UNNEST(range(a_start - diag,
                                 a_start - diag + span_len)) AS u(p)
    ),
    ptok AS (
        SELECT k.doc_id, CAST(i AS BIGINT) AS pos, k.t[i] AS tok
        FROM toks k, UNNEST(range(1, len(k.t) + 1)) AS s(i)
        WHERE k.doc_id IN (SELECT doc_b FROM cov)
    )
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(c.cpos) AS BIGINT) AS n_removed,
           string_agg(CASE WHEN c.cpos IS NULL THEN p.tok
                           ELSE '[dup]' END, ' ' ORDER BY p.pos)
               AS scrubbed_text
    FROM ptok p LEFT JOIN cov c ON c.doc_b = p.doc_id AND c.cpos = p.pos
    GROUP BY p.doc_id
    """,
)
def dedup_span_scrub_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTIONABLE half of repeated-substring dedup (Lee et al. 2022
    cut the LATER occurrence and keep the first): rewrite every
    document that repeats a >= 12-token span of an earlier document
    (doc_a < doc_b — first occurrence wins, so doc_a stays untouched),
    masking exactly the repeated token positions on the doc_b side
    with a '[dup]' sentinel.  Completes the self-dedup family: locate
    (dedup_span_selfsim) -> scrub (this key), sharing one span chain
    via :func:`_selfsim_spans` / :data:`_SSIM_CTES_SQL` so anchor,
    threshold and cap semantics cannot drift — the
    text_decontaminate_scrub discipline pointed at the corpus itself.

    Covered positions explode each span's b-side range [b_start,
    b_start + span_len) (span_len >= 12 > 0, never a descending
    sequence); overlapping spans from different partners dedup through
    the DISTINCT.  The rewrite is a positioned-token LEFT JOIN against
    the covered set and an ordered reassembly.

    Scale: spans are repeat-density-bounded, tiny next to the corpus;
    the left_semi doc filter prunes the token explode to AFFECTED
    doc_b's before any reassembly, so the groupBy(doc_id) exchange
    carries only duplicated docs — at 100 TB the scrub rewrites the
    repeated sliver, never the corpus."""
    toks, spans = _selfsim_spans(spark, sf_dir)
    cov = (
        spans.select(
            "doc_b",
            F.explode(
                F.sequence(
                    F.col("a_start") - F.col("diag"),
                    F.col("a_start") - F.col("diag") + F.col("span_len") - 1,
                )
            ).alias("p0"),
        )
        .select("doc_b", F.col("p0").cast("long").alias("cpos"))
        .distinct()
    )
    # Affected docs come from spans DIRECTLY (span_len >= 12 > 0, so
    # every span row yields covered positions — doc_b sets identical),
    # leaving cov with exactly ONE consumer (the positional join): the
    # explode+distinct subtree runs once, no persist needed (r16 ADVICE
    # — the prior left_semi on cov re-ran that subtree per consumer).
    affected = toks.join(
        spans.select(F.col("doc_b").alias("doc_id")).distinct(),
        "doc_id",
        "left_semi",
    )
    # cov and ptok both descend from the documents scan — every
    # non-join column renamed per side (cpos vs pos, doc_b vs doc_id)
    ptok = affected.select(
        "doc_id", F.posexplode(F.col("t")).alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).cast("long").alias("pos"), "tok")
    masked = ptok.join(
        cov,
        (F.col("doc_b") == F.col("doc_id")) & (F.col("cpos") == F.col("pos")),
        "left",
    ).select(
        "doc_id",
        "pos",
        F.when(F.col("cpos").isNull(), F.col("tok"))
        .otherwise(F.lit("[dup]"))
        .alias("tok"),
        F.col("cpos").alias("hit"),
    )
    return masked.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.count("hit").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("scrubbed_text"),
    )
