"""Scalar-function operators (SURVEY.md §2.8) — all 14 keys.

This is the dialect-drift minefield (SURVEY.md §7.3 item 3); every key
pins the exact Spark↔DuckDB semantic mapping inline:

- day-of-week: Spark ``weekday()`` is 0=Monday → ``weekday()+1`` equals
  DuckDB ``isodow`` (1=Monday…7=Sunday);
- ``datediff``: Spark is (end, start); DuckDB ``date_diff`` is
  (part, start, end) — arguments swap;
- list indexing: Spark ``element_at`` and DuckDB ``[..]`` are both
  1-based with negative-from-end support;
- ``floor`` returns BIGINT in Spark but DOUBLE in DuckDB → oracle casts;
- transcendentals (ln/log10/power) may differ in the last ulp across
  libm implementations → pinned to 4 decimals via the deterministic
  floor(x*1e4+0.5)/1e4 form on both sides; sqrt is IEEE-correctly-rounded
  and stays raw;
- integer division: DuckDB ``/`` on BIGINTs yields DOUBLE (so
  ``epoch(..)/3600`` silently becomes fractional — bit evt_interpolate_
  linear's grid build); use ``//`` in DuckDB ↔ ``(a / b).cast("long")``
  in Spark (both floor for non-negative operands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.core import pin, pin_int, pin_sql, query
from engine.io import load, register_views



@query(
    "fn_string_basic",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name)                          AS name_upper,
           LOWER(c_mktsegment)                    AS seg_lower,
           CAST(LENGTH(c_name) AS INTEGER)        AS name_len,
           SUBSTRING(c_name, 1, 8)                AS name_prefix,
           CONCAT_WS('-', c_mktsegment, c_name)   AS seg_name,
           LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
           REPLACE(c_name, 'Customer#', 'C')      AS name_short,
           CAST(STRPOS(c_name, '#') AS INTEGER)   AS hash_pos,
           TRIM('  ' || c_mktsegment || ' ')      AS seg_trim
    FROM customer
    """,
)
def fn_string_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("-", "c_mktsegment", "c_name").alias("seg_name"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.replace(F.col("c_name"), F.lit("Customer#"), F.lit("C")).alias("name_short"),
        F.instr("c_name", "#").alias("hash_pos"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias("seg_trim"),
    )


@query(
    "fn_string_split_part",
    oracle="""
    SELECT p_partkey,
           string_split(p_name, ' ')[1]                    AS first_word,
           string_split(p_name, ' ')[-1]                   AS last_word,
           CAST(len(string_split(p_name, ' ')) AS INTEGER) AS n_words
    FROM part
    """,
)
def fn_string_split_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    # element_at is 1-based with negative-from-end — same as DuckDB [].
    p = load(spark, sf_dir, "part")
    toks = F.split(F.col("p_name"), " ")
    return p.select(
        "p_partkey",
        F.element_at(toks, 1).alias("first_word"),
        F.element_at(toks, -1).alias("last_word"),
        F.size(toks).alias("n_words"),
    )


@query(
    "fn_regexp",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '(s[a-z]+k)', 1)                    AS first_sk_word,
           regexp_replace(SUBSTRING(text, 1, 60), '[aeiou]', '_', 'g') AS devoweled,
           CAST(regexp_matches(text, 'spark') AS INTEGER)           AS mentions_spark
    FROM documents
    """,
)
def fn_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark regexp_replace is global by default; DuckDB needs the 'g'
    # flag.  Both return '' (not NULL) for a non-matching extract.
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract(F.col("text"), r"(s[a-z]+k)", 1).alias("first_sk_word"),
        F.regexp_replace(F.substring("text", 1, 60), r"[aeiou]", "_").alias("devoweled"),
        # int, not boolean — no BooleanType in declared outputs (driver
        # canonicalizer risk, VERDICT r2 "What's wrong" #1).
        F.col("text").rlike("spark").cast("int").alias("mentions_spark"),
    )


@query(
    "fn_date_parts",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER)      AS yr,
           CAST(month(o_orderdate) AS INTEGER)     AS mo,
           CAST(day(o_orderdate) AS INTEGER)       AS dy,
           CAST(quarter(o_orderdate) AS INTEGER)   AS qtr,
           CAST(isodow(o_orderdate) AS INTEGER)    AS iso_dow,
           CAST(dayofyear(o_orderdate) AS INTEGER) AS doy
    FROM orders
    WHERE o_orderkey % 3 = 0
    """,
)
def fn_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark dayofweek() is 1=Sunday (unusable cross-engine); weekday()+1
    # equals DuckDB isodow (1=Monday..7=Sunday).
    # Residue filter bounds the verified output only (engine/io.py note).
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.quarter("o_orderdate").alias("qtr"),
        (F.weekday("o_orderdate") + 1).alias("iso_dow"),
        F.dayofyear("o_orderdate").alias("doy"),
    )


@query(
    "fn_date_trunc_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS DATE)              AS month_start,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INTEGER)
                                                                       AS days_to_eoy,
           CAST(o_orderdate AS DATE) + 30                              AS plus_30d,
           last_day(CAST(o_orderdate AS DATE))                         AS month_end
    FROM orders
    WHERE o_orderkey % 3 = 0
    """,
)
def fn_date_trunc_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark datediff(end, start) ↔ DuckDB date_diff('day', start, end):
    # argument order swaps between the engines.  date_trunc returns
    # TIMESTAMP in Spark but DATE for month-granularity in DuckDB —
    # pinned to DATE on both sides.
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate").cast("date")).alias("days_to_eoy"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("plus_30d"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
    )


@query(
    "fn_timestamp_epoch",
    oracle="""
    SELECT event_id,
           CAST(FLOOR(epoch_us(ts) / 1000000.0) AS BIGINT)  AS epoch_s,
           date_trunc('second', ts)                 AS ts_sec,
           CAST(CAST(to_timestamp(CAST(FLOOR(epoch_us(ts) / 1000000.0) AS BIGINT)) AS TIMESTAMP)
               = date_trunc('second', ts) AS INTEGER) AS roundtrip_ok
    FROM events
    WHERE event_id % 2 = 0
    """,
)
def fn_timestamp_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Epoch seconds ↔ timestamp round-trip at second precision (sub-second
    # digits are truncated identically on both engines; session tz UTC).
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") % 2 == 0)
    epoch_s = F.unix_timestamp("ts")
    return ev.select(
        "event_id",
        epoch_s.alias("epoch_s"),
        F.date_trunc("second", "ts").alias("ts_sec"),
        (F.timestamp_seconds(epoch_s) == F.date_trunc("second", "ts"))
        .cast("int")
        .alias("roundtrip_ok"),
    )


@query(
    "fn_math",
    oracle=f"""
    SELECT p_partkey,
           CAST(FLOOR(p_retailprice) AS BIGINT)   AS price_floor,
           CAST(CEIL(p_retailprice) AS BIGINT)    AS price_ceil,
           ABS(p_size - 25)                       AS size_dist,
           SQRT(p_retailprice)                    AS price_sqrt,
           {pin_sql("LN(p_retailprice)", 10000)}    AS price_ln,
           {pin_sql("LOG10(p_retailprice)", 10000)} AS price_log10,
           {pin_sql("POWER(1.0 + p_size / 100.0, 2)", 10000)} AS size_pow,
           CAST(SIGN(p_size - 25) AS INTEGER)     AS size_sign,
           CAST(p_partkey % 7 AS BIGINT)          AS key_mod
    FROM part
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sqrt is IEEE-correctly-rounded → bit-identical raw; ln/log10/power
    # may differ by 1 ulp across libms → pinned to 4 decimals.
    p = load(spark, sf_dir, "part")
    price = F.col("p_retailprice")
    return p.select(
        "p_partkey",
        F.floor(price).alias("price_floor"),
        F.ceil(price).alias("price_ceil"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        F.sqrt(price).alias("price_sqrt"),
        pin(F.log(price), 10000).alias("price_ln"),
        pin(F.log10(price), 10000).alias("price_log10"),
        pin(F.pow(1.0 + F.col("p_size") / 100.0, 2), 10000).alias("size_pow"),
        F.signum(F.col("p_size") - 25).cast("int").alias("size_sign"),
        (F.col("p_partkey") % 7).alias("key_mod"),
    )


@query(
    "fn_conditional",
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'n/a') AS seg_or_na,
           NULLIF(c_acctbal, 0.0)                            AS bal_or_null,
           GREATEST(c_acctbal, 0.0)                          AS bal_floor0,
           LEAST(c_acctbal, 5000.0)                          AS bal_cap5k,
           CASE WHEN c_acctbal IS NULL THEN 'null'
                WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS bal_class
    FROM customer
    """,
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("n/a")).alias("seg_or_na"),
        F.nullif(bal, F.lit(0.0)).alias("bal_or_null"),
        F.greatest(bal, F.lit(0.0)).alias("bal_floor0"),
        F.least(bal, F.lit(5000.0)).alias("bal_cap5k"),
        F.when(bal.isNull(), "null").when(bal < 0, "neg").otherwise("pos").alias("bal_class"),
    )


@query(
    "fn_hash_md5",
    oracle="""
    SELECT doc_id,
           md5(text)    AS text_md5,
           sha256(text) AS text_sha256
    FROM documents
    """,
)
def fn_hash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Content fingerprints — the primitive dedup_exact builds on.  Both
    # engines emit lowercase hex.
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2(F.col("text"), 256).alias("text_sha256"),
    )


@query(
    "fn_aes_roundtrip",
    oracle="""
    SELECT doc_id,
           text                           AS decrypted,
           CAST(1 AS INTEGER)             AS roundtrip_ok,
           CAST((strlen(text) // 16 + 1) * 16 AS BIGINT)
                                          AS ecb_cipher_bytes
    FROM documents
    WHERE doc_id % 3 = 0
    """,
)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``aes_encrypt`` / ``aes_decrypt`` round-trip — column-level
    encryption for PII-bearing corpus columns (the at-rest protection a
    training pipeline applies before staging text to shared storage).
    Mode ECB is chosen deliberately: it is the DETERMINISTIC mode, so
    the ciphertext length is a pure function of plaintext length
    (PKCS7 always pads: (n div 16 + 1)·16 bytes, proven by the hash
    match) and repeated runs produce identical bytes — the property
    dedup-after-encryption relies on.  Production
    would use GCM (random IV, AEAD) when determinism isn't required.

    DuckDB has no AES functions, so the oracle asserts the algebraic
    round-trip identity instead: decrypt(encrypt(x)) = x, flagged by
    comparing through the full pipeline on the Spark side and returning
    the decrypted text itself for hashing.  Binary stays OUT of the
    declared output (driver-safe scalar set): ciphertext is reported
    only as its byte LENGTH."""
    key = F.lit("0123456789abcdef")  # 16-byte AES-128 key
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    enc = F.aes_encrypt(
        F.col("text").cast("binary"), key.cast("binary"), F.lit("ECB")
    )
    dec = F.aes_decrypt(enc, key.cast("binary"), F.lit("ECB")).cast(
        "string"
    )
    return d.select(
        "doc_id",
        dec.alias("decrypted"),
        (dec == F.col("text")).cast("int").alias("roundtrip_ok"),
        F.length(enc).cast("long").alias("ecb_cipher_bytes"),
    )


@query(
    "fn_array_basic",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS n_dims,
           embedding[1]                    AS first_comp,
           embedding[32]                   AS mid_comp,
           embedding[-1]                   AS last_comp
    FROM embeddings
    """,
)
def fn_array_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scalar element extraction only — array-typed outputs would crash
    # the driver's canonicalizer.  Raw float32 components pass through
    # both engines as the identical float64 widening.
    e = load(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.size(emb).alias("n_dims"),
        F.element_at(emb, 1).alias("first_comp"),
        F.element_at(emb, 32).alias("mid_comp"),
        F.element_at(emb, -1).alias("last_comp"),
    )


@query(
    "fn_array_higher_order",
    oracle=f"""
    SELECT vec_id,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
           {pin_sql("list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))", 10000)}
               AS sum_sq,
           list_max(embedding) AS max_comp,
           list_min(embedding) AS min_comp
    FROM embeddings
    """,
)
def fn_array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda HOFs over the embedding array — JVM-side per-row loops, no
    Python boundary (the scale-safe form for vector math; float32→double
    products are exact, the sequential fold is pinned to 4 decimals)."""
    e = load(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    sum_sq = F.aggregate(
        emb,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return e.select(
        "vec_id",
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_pos"),
        pin(sum_sq, 10000).alias("sum_sq"),
        F.array_max(emb).alias("max_comp"),
        F.array_min(emb).alias("min_comp"),
    )


@query(
    "fn_array_explode",
    oracle="""
    SELECT e.vec_id,
           CAST(s.i - 1 AS INTEGER) AS pos,
           e.embedding[CAST(s.i AS INTEGER)] AS comp
    FROM embeddings e, (SELECT unnest(range(1, 65)) AS i) s
    WHERE e.vec_id < 100
    """,
)
def fn_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # posexplode → long format (vec_id, pos, comp); 0-based pos.  The
    # oracle indexes the fixed 64-dim vectors against a range table.
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    return e.select("vec_id", F.posexplode("embedding").alias("pos", "comp"))


@query(
    "fn_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def fn_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # get_json_object on the semi-structured props column; exact integer
    # aggregation after the cast.
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "fn_json_to_map",
    oracle="""
    SELECT event_id,
           json_keys(props)[1]                                 AS k_key,
           CAST(json_extract_string(props, '$.k') AS INTEGER)  AS k_val,
           CAST(len(json_keys(props)) AS INTEGER)              AS n_keys
    FROM events
    WHERE event_id % 2 = 0
    """,
)
def fn_json_to_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    # from_json → MapType, then scalar extraction (map itself must not be
    # projected into the hash-compared output).
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") % 2 == 0)
    m = F.from_json("props", "map<string,int>")
    return ev.select(
        "event_id",
        F.element_at(F.map_keys(m), 1).alias("k_key"),
        F.element_at(m, "k").alias("k_val"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@query(
    "fn_bitwise",
    oracle="""
    SELECT p_partkey,
           p_partkey & 255                          AS low_byte,
           p_partkey | 4096                         AS with_flag,
           xor(p_partkey, 170)                      AS xored,
           CAST(p_partkey << 2 AS BIGINT)           AS shl2,
           CAST(p_partkey >> 3 AS BIGINT)           AS shr3,
           CAST(bit_count(p_partkey) AS INTEGER)    AS popcount
    FROM part
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bit ops on ids — the primitives the hash/band/bucket operators
    # build on.  Spark shiftleft/shiftright ↔ DuckDB << / >>; XOR is the
    # xor() function in DuckDB but an operator method in PySpark.
    p = load(spark, sf_dir, "part")
    k = F.col("p_partkey")
    return p.select(
        "p_partkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.lit(170)).alias("xored"),
        F.shiftleft(k, 2).alias("shl2"),
        F.shiftright(k, 3).alias("shr3"),
        F.bit_count(k).alias("popcount"),
    )


@query(
    "fn_try_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_linenumber - 1 = 0 THEN NULL
                ELSE CAST(FLOOR(l_quantity / (l_linenumber - 1) * 10000
                          + 0.5) AS BIGINT) END AS qty_per_prior_line_e4,
           CASE WHEN l_quantity = 0 THEN NULL
                ELSE CAST(FLOOR(l_extendedprice / l_quantity * 100 + 0.5)
                     AS BIGINT) END AS unit_cents,
           CAST(FLOOR(l_quantity) AS BIGINT) % 7 AS qty_mod7
    FROM lineitem
    WHERE l_orderkey % 20 = 0
    """,
)
def fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic under ANSI mode: Spark 4 runs ANSI SQL by
    default, so plain ``/`` by zero and overflowing casts THROW
    mid-job — a single bad row kills a 100 TB stage.  The ``try_*``
    family (here ``try_divide``) returns NULL instead, which is the
    production posture for dirty data; the oracle mirrors with
    explicit zero guards.  The first divisor (l_linenumber - 1) IS
    zero on every first line — the NULL path is exercised for real.

    Per-row map work only; the residue filter bounds verified rows."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 20 == 0)
    qpp = F.try_divide(F.col("l_quantity"), F.col("l_linenumber") - 1)
    unit = F.try_divide(F.col("l_extendedprice"), F.col("l_quantity"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        pin_int(qpp, 10000).alias("qty_per_prior_line_e4"),
        pin_int(unit, 100).alias("unit_cents"),
        (F.floor("l_quantity").cast("long") % 7).alias("qty_mod7"),
    )


@query(
    "fn_variant_extract",
    oracle="""
    WITH j AS (
        SELECT event_id,
               '{"meta":{"type":"' || event_type || '","k":'
               || CAST(json_extract_string(props, '$.k') AS VARCHAR)
               || '},"vals":['
               || CAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS VARCHAR)
               || ',' || CAST(user_id AS VARCHAR) || ']}' AS doc
        FROM events WHERE event_id % 4 = 0
    )
    SELECT event_id,
           json_extract_string(doc, '$.meta.type') AS meta_type,
           CAST(json_extract(doc, '$.meta.k') AS INTEGER) AS meta_k,
           CAST(json_extract(doc, '$.vals[0]') AS BIGINT) AS cents,
           CAST(json_extract(doc, '$.vals[1]') AS BIGINT) AS uid,
           CAST(json_array_length(doc, '$.vals') AS INTEGER) AS n_vals
    FROM j
    """,
)
def fn_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path: build a nested JSON doc from event fields,
    ``parse_json`` it into a VARIANT cell, and pull typed values back
    out with ``variant_get`` JSONPath — the open-format semi-structured
    column type that replaces string-typed JSON blobs.  The oracle runs
    the same paths through DuckDB's JSON operators on the identical doc.

    Scale design: VARIANT stores a parsed binary encoding, so repeated
    path extraction skips re-tokenizing the JSON text (the win over
    get_json_object, which re-parses per call); everything here is
    per-row codegen work on one scan, no shuffle, and the VARIANT cell
    itself never leaves the plan (declared outputs stay scalar)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") % 4 == 0)
    doc = F.concat(
        F.lit('{"meta":{"type":"'),
        F.col("event_type"),
        F.lit('","k":'),
        F.get_json_object("props", "$.k"),
        F.lit('},"vals":['),
        pin_int(F.col("value"), 100).cast("string"),
        F.lit(","),
        F.col("user_id").cast("string"),
        F.lit("]}"),
    )
    v = F.parse_json(doc)
    return ev.select(
        "event_id",
        F.variant_get(v, "$.meta.type", "string").alias("meta_type"),
        F.variant_get(v, "$.meta.k", "int").alias("meta_k"),
        F.variant_get(v, "$.vals[0]", "long").alias("cents"),
        F.variant_get(v, "$.vals[1]", "long").alias("uid"),
        F.size(F.variant_get(v, "$.vals", "array<long>")).cast("int").alias("n_vals"),
    )


@query(
    "fn_collation_group",
    oracle="""
    WITH mixed AS (
        SELECT p_partkey,
               CASE WHEN p_partkey % 2 = 0 THEN upper(p_name)
                    ELSE p_name END AS name
        FROM part
    )
    SELECT lower(name) AS name_ci,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM mixed GROUP BY lower(name)
    """,
)
def fn_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATIONS: group case-insensitively via the UTF8_LCASE
    collation instead of wrapping every reference in lower() — the
    declarative form a warehouse migration needs (ORDER BY / GROUP BY /
    joins inherit the collation from the column type).  Mixed casing is
    planted (alternate rows uppercased) so the collation genuinely
    merges groups.  The emitted group key is explicitly lower()ed:
    under a case-insensitive collation the retained representative
    casing is engine-internal, and only the fold is deterministic.

    Scale design: collation-aware grouping hashes the collation key
    directly (no double pass over lower()ed copies); same one-shuffle
    agg as any groupBy."""
    p = load(spark, sf_dir, "part")
    name = F.when(
        F.col("p_partkey") % 2 == 0, F.upper("p_name")
    ).otherwise(F.col("p_name"))
    return (
        p.select(F.collate(name, "UTF8_LCASE").alias("name_ci"))
        .groupBy("name_ci")
        .agg(F.count("*").alias("n"))
        .select(
            F.lower(F.col("name_ci")).cast("string").alias("name_ci"), "n"
        )
    )


@query(
    "fn_geo_haversine",
    oracle="""
    WITH pts AS (
        SELECT c_custkey,
               (c_custkey * 7919 % 18000) / 100.0 - 90.0 AS lat,
               (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon
        FROM customer
    ),
    pairs AS (
        SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
               RADIANS(a.lat) AS la1, RADIANS(b.lat) AS la2,
               RADIANS(b.lat - a.lat) AS dla,
               RADIANS(b.lon - a.lon) AS dlo
        FROM pts a JOIN pts b ON b.c_custkey = a.c_custkey + 1
        WHERE a.c_custkey % 7 = 0
    )
    SELECT key_a, key_b,
           CAST(FLOOR(2 * 6371.0088
                * ASIN(SQRT(SIN(dla / 2) * SIN(dla / 2)
                            + COS(la1) * COS(la2)
                              * SIN(dlo / 2) * SIN(dlo / 2)))
                * 10000 + 0.5) AS BIGINT) AS dist_km_e4
    FROM pairs
    """,
)
def fn_geo_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle (haversine) distance — the trigonometric function
    family (radians/sin/cos/asin) under the float discipline, over
    synthetic coordinates DERIVED FROM INTEGERS (key·prime mod range,
    then one exact-rounded division), so both engines start from
    bit-identical doubles and evaluate the same formula in the same
    operation order; the e4-pinned km absorbs the ≤1-2 ulp divergence
    between libm implementations, the same absorption margin every
    pinned float key here relies on.

    Geo-distance is the standard example of a JVM-side computed column
    that must NOT become a Python UDF: 6 trig calls per row inside
    whole-stage codegen vs an Arrow round-trip.

    Scale: the consecutive-key pairing is an equi-join (broadcastable
    probe side after the residue filter); everything else is per-row
    math — no shuffle beyond the join."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    pts = c.select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    a = pts.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("key_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
    )
    b = pts.select(
        (F.col("c_custkey") - 1).alias("join_key"),
        F.col("c_custkey").alias("key_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
    )
    la1 = F.radians("lat_a")
    la2 = F.radians("lat_b")
    dla = F.radians(F.col("lat_b") - F.col("lat_a"))
    dlo = F.radians(F.col("lon_b") - F.col("lon_a"))
    hav = (
        F.sin(dla / 2) * F.sin(dla / 2)
        + F.cos(la1) * F.cos(la2) * F.sin(dlo / 2) * F.sin(dlo / 2)
    )
    dist = 2 * 6371.0088 * F.asin(F.sqrt(hav))
    return (
        a.join(b, a.key_a == b.join_key)
        .select(
            "key_a",
            "key_b",
            pin_int(dist, 10000).alias("dist_km_e4"),
        )
    )


@query(
    "fn_business_days",
    oracle="""
    WITH d AS (
        SELECT l.l_orderkey, l.l_linenumber,
               CAST(CAST(o.o_orderdate AS DATE) - DATE '1970-01-01'
                    AS BIGINT) AS a,
               CAST(CAST(l.l_shipdate AS DATE) - DATE '1970-01-01'
                    AS BIGINT) AS b
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_orderkey % 10 = 0
    )
    SELECT (5 * ((b + 4) // 7) + LEAST((b + 4) % 7, 5))
           - (5 * ((a + 4) // 7) + LEAST((a + 4) % 7, 5)) AS bus_days,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM d
    GROUP BY 1
    """,
)
def fn_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUSINESS-DAY arithmetic — weekdays between order and ship date,
    closed-form: f(x) = 5·⌊(x+4)/7⌋ + min((x+4) mod 7, 5) counts the
    weekdays in epoch-days [0..x], so f(b) − f(a) is the weekday count
    in (a, b] with NO calendar loop, no generate_series, no UDF —
    O(1) integer math per row (validated against a Python calendar
    walk for Mon-Fri/weekend/cross-week cases).

    Deliberately avoids ``dayofweek()``: Spark and DuckDB disagree on
    its 0-vs-1 base and week start (the dialect trap in
    fn_date_parts' docstring) — epoch-day modular arithmetic is the
    dialect-proof form.  Output is the SLA histogram (business-day lag
    → line count), the shape a fulfillment dashboard reads.

    Scale: per-row integer expressions inside codegen + one
    map-side-combinable count; the equi join shuffles on orderkey (or
    broadcasts orders' two columns when small)."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    o = load(spark, sf_dir, "orders")
    a = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).cast("long")
    b = F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")).cast("long")
    fx = lambda x: 5 * F.expr(f"({x} + 4) div 7") + F.least(  # noqa: E731
        (F.expr(f"({x} + 4)") % 7), F.lit(5)
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(a.alias("a"), b.alias("b"))
        .select((fx("b") - fx("a")).alias("bus_days"))
        .groupBy("bus_days")
        .agg(F.count("*").alias("n_lines"))
    )


@query(
    "fn_month_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE)
                + TO_MONTHS(CAST(o_orderkey % 13 + 1 AS INTEGER))
                AS DATE) AS due_date,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(CAST(o_orderdate AS DATE) =
                last_day(CAST(o_orderdate AS DATE)) AS INTEGER)
               AS is_month_end
    FROM orders
    WHERE o_orderkey % 10 = 0
    """,
)
def fn_month_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALENDAR-MONTH arithmetic — ``add_months`` and ``last_day``, the
    date family where naive day-count arithmetic breaks: Jan 31 + 1
    month must CLAMP to Feb 29/28 (both engines clamp — verified
    DuckDB ``+ TO_MONTHS`` matches Spark ``add_months`` on month-end
    inputs including leap February), and billing/retention logic keyed
    on "same day next month" silently drifts without it.  The
    month-end flag is the membership test subscription rollovers
    branch on.

    Variable month offsets (1-13 from the order key) exercise year
    wrap and leap-year clamping across the corpus's 1995-2001 span.

    Scale: pure per-row codegen expressions; DATE outputs hash cleanly
    cross-engine (no timestamp/timezone surface)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.add_months(d, (F.col("o_orderkey") % 13 + 1).cast("int")).alias(
            "due_date"
        ),
        F.last_day(d).alias("month_end"),
        (d == F.last_day(d)).cast("int").alias("is_month_end"),
    )


@query(
    "fn_explode_outer_nulls",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN NULL
                    WHEN doc_id % 5 = 0 THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(
                        range(1, CAST(doc_id % 4 + 1 AS INT) + 1),
                        i -> 't' || CAST(i AS VARCHAR))
               END AS arr
        FROM documents
    )
    SELECT doc_id,
           unnest(CASE WHEN arr IS NULL OR len(arr) = 0
                       THEN [CAST(NULL AS VARCHAR)] ELSE arr END) AS token
    FROM base
    """,
)
def fn_explode_outer_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLODE_OUTER null/empty-array semantics pin (r5 VERDICT #6): a
    plain ``explode`` silently DROPS rows whose array is NULL or empty —
    the classic lost-document bug in token pipelines — while
    ``explode_outer`` keeps them with a NULL element.  DuckDB's
    ``unnest`` has the drop-semantics for BOTH (NULL list and empty list
    each produce zero rows), so the oracle models the outer variant by
    padding those arrays to ``[NULL]`` before unnesting; the Spark side
    is the native operator.  The CASE arms are ordered %7-before-%5
    (doc_id 0 and 35 hit both) and identically on both engines.

    The arrays are built from integer sequences, not text splits —
    Spark's regex ``split`` and DuckDB's literal ``str_split`` disagree
    on trailing-empty-string retention, which would pin the wrong thing.
    (``sequence`` is ascending-safe here because n >= 1; Spark's
    ``sequence(1, 0)`` DESCENDS instead of returning empty.)

    Scale: explode_outer is a per-row generator — no shuffle, no state;
    output volume is sum(len(arr)) which the corpus bounds at 4/doc."""
    d = load(spark, sf_dir, "documents")
    n = (F.col("doc_id") % 4 + 1).cast("int")
    arr = (
        F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("array<string>"))
        .when(F.col("doc_id") % 5 == 0, F.array().cast("array<string>"))
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.concat(F.lit("t"), i.cast("string")),
            )
        )
    )
    # arr is materialized as a projected column BEFORE the generator —
    # never re-evaluated per element (CLAUDE.md higher-order-lambda rule).
    return d.select("doc_id", arr.alias("arr")).select(
        "doc_id", F.explode_outer("arr").alias("token")
    )


@query(
    "fn_sql_udf",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
           MIN(l_returnflag || '/' || l_linestatus) AS min_flag_status
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def fn_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UDFs (Spark 4 ``CREATE TEMPORARY FUNCTION ... RETURNS ...
    RETURN expr``) — named, reusable scalar functions defined IN SQL.
    Unlike Python UDFs these are inlined by the analyzer into the
    calling plan, so they cost nothing at runtime: the optimized plan
    is identical to writing the expression inline (whole-stage codegen,
    pushdown, everything).  That makes them the right vehicle for
    shared business logic (pricing formulas, status formatting) across
    a 100 TB warehouse — one definition, zero per-row overhead — where
    a Python UDF would serialize every row.

    Two shapes: a numeric pricing formula and a string formatter, both
    used inside an aggregate.  The oracle inlines the expressions —
    equality proves the inlining is semantically transparent.  The
    revenue is exact integer cents per the repo's no-ROUND rule."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price_cents"
        "(p DOUBLE, d DOUBLE) RETURNS BIGINT"
        " RETURN CAST(FLOOR(p * (1 - d) * 100 + 0.5) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION flag_status"
        "(f STRING, s STRING) RETURNS STRING"
        " RETURN CONCAT(f, '/', s)"
    )
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("fn_sql_udf_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(disc_price_cents(l_extendedprice, l_discount))
                   AS revenue_cents,
               MIN(flag_status(l_returnflag, l_linestatus))
                   AS min_flag_status
        FROM fn_sql_udf_lineitem
        GROUP BY l_returnflag
        """
    )


@query(
    "fn_parameterized_sql",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_value_cents
    FROM events
    WHERE value >= 10.0 AND event_type IN ('click', 'view')
      AND user_id % 4 = 1
    GROUP BY event_type
    """,
)
def fn_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAMETERIZED SQL (Spark 4 ``spark.sql(query, args=...)``): named
    ``:placeholders`` bound server-side as typed literals — the
    injection-safe templating surface every SQL-facing service needs
    (the JDBC PreparedStatement idiom, natively in the Spark API).
    Catalyst sees real literals after binding, so constant folding and
    predicate pushdown work exactly as with inline constants — the
    oracle IS the inlined query, and the hash match proves binding is
    semantically transparent.

    Array/scalar params cover the two common shapes: a numeric
    threshold, an IN-list (bound as an array + array_contains), and a
    modulus residue."""
    ev = load(spark, sf_dir, "events")
    ev.createOrReplaceTempView("param_events")
    return spark.sql(
        """
        SELECT event_type,
               COUNT(*) AS n,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                   AS sum_value_cents
        FROM param_events
        WHERE value >= :min_value
          AND array_contains(:types, event_type)
          AND user_id % :modulus = :residue
        GROUP BY event_type
        """,
        args={
            "min_value": 10.0,
            "types": ["click", "view"],
            "modulus": 4,
            "residue": 1,
        },
    )


@query(
    "fn_lateral_column_alias",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
           CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
               - CAST(FLOOR(l_extendedprice * l_discount * 100 + 0.5)
                      AS BIGINT)                              AS net_cents,
           CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                - CAST(FLOOR(l_extendedprice * l_discount * 100 + 0.5)
                       AS BIGINT) > 10000000 AS INTEGER)      AS is_big
    FROM lineitem
    WHERE l_orderkey % 9 = 2
    """,
)
def fn_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL COLUMN ALIAS (Spark 3.4+): a SELECT-list expression can
    reference an alias defined EARLIER IN THE SAME SELECT — ``cents``
    feeds ``net_cents`` feeds ``is_big`` without a subquery or CTE per
    derivation step.  DuckDB supports the same extension, so the oracle
    is the fully-inlined expansion; the hash match proves the analyzer
    rewrites aliases into pure expression substitution (one projection
    node, no extra plan layers — still whole-stage-codegen'd).

    This is the ergonomics surface that keeps derived-metric chains
    (raw → adjusted → bucketed) readable in warehouse SQL; at 100 TB it
    matters that the rewrite is zero-cost, which the identical plan
    shape guarantees."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lca_lineitem")
    return spark.sql(
        """
        SELECT l_orderkey,
               l_linenumber,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               cents - CAST(FLOOR(l_extendedprice * l_discount * 100 + 0.5)
                            AS BIGINT)                    AS net_cents,
               CAST(net_cents > 10000000 AS INT)          AS is_big
        FROM lca_lineitem
        WHERE l_orderkey % 9 = 2
        """
    )


@query(
    "fn_group_order_by_all",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT)
               AS sum_qty
    FROM lineitem
    WHERE l_quantity > 25.0
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def fn_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` / ``ORDER BY ALL`` (Spark 3.4+/4): the analyzer
    infers the grouping set as every non-aggregate SELECT item and the
    total order as the full column list — the DuckDB-originated
    ergonomic that removes the classic copy-the-select-list-into-
    group-by bug (add a column, forget the GROUP BY edit, get a
    silent analysis error or — worse — a changed grain).  Both engines
    implement the same inference, so the oracle uses the identical
    syntax; the hash match pins that the inferred grain is
    (l_returnflag, l_linestatus) on both.

    ORDER BY ALL additionally yields a deterministic total order
    without naming keys — handy for stable diffable outputs (the
    engine's own unique-order rule, applied by inference)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("gba_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               l_linestatus,
               COUNT(*) AS n,
               SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS sum_qty
        FROM gba_lineitem
        WHERE l_quantity > 25.0
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@query(
    "fn_sql_variable",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_totalprice < 150000.0
    GROUP BY o_orderpriority
    """,
)
def fn_sql_variable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SESSION VARIABLES (Spark 4 ``DECLARE VARIABLE`` / ``SET
    VAR``): typed, session-scoped named values referenced directly in
    queries — the pure-SQL analogue of parameterized SQL for scripted
    warehouse workflows (a driver sets the watermark date once; every
    statement in the session reads it).  Variables resolve to literals
    at analysis time, so pushdown/folding are unaffected — proven by
    the hash match against the inlined oracle.

    DECLARE OR REPLACE keeps the key idempotent across invocations in
    one session."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("var_orders")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE cutoff_date TIMESTAMP"
        " DEFAULT TIMESTAMP '1996-07-01'"
    )
    spark.sql(
        "DECLARE OR REPLACE VARIABLE price_cap DOUBLE DEFAULT 150000.0"
    )
    spark.sql("SET VAR cutoff_date = TIMESTAMP '1996-07-01'")
    spark.sql("SET VAR price_cap = 150000.0")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS sum_cents
        FROM var_orders
        WHERE o_orderdate >= cutoff_date
          AND o_totalprice < price_cap
        GROUP BY o_orderpriority
        """
    )


@query(
    "fn_execute_immediate",
    oracle="""
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_acctbal_cents
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_acctbal > 0.0
    GROUP BY n_name
    """,
)
def fn_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``EXECUTE IMMEDIATE`` (Spark 4): run a SQL string held in a
    session variable, with ``USING`` parameter binding — dynamic SQL
    for scripted workflows (the statement text itself is data: built by
    a config table, a migration script, an orchestration layer).
    Parameters bind as typed literals exactly like spark.sql(args=...),
    so the planned query is identical to the static form — the inlined
    oracle hash-proves it.

    Combined with fn_sql_variable / fn_identifier_clause this closes
    the Spark 4 scripting triad: values, identifiers, and whole
    statements as data — injection-safe in all three positions."""
    register_views(spark, sf_dir)
    spark.sql(
        "DECLARE OR REPLACE VARIABLE stmt STRING DEFAULT ''"
    )
    spark.sql(
        """SET VAR stmt =
        'SELECT n_name,
                COUNT(*) AS n_suppliers,
                SUM(CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT))
                    AS sum_acctbal_cents
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE s_acctbal > ?
         GROUP BY n_name'
        """
    )
    return spark.sql("EXECUTE IMMEDIATE stmt USING 0.0")


@query(
    "fn_pipe_syntax",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_disc_cents
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    HAVING COUNT(*) > 0
    """,
)
def fn_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE SYNTAX (Spark 4 ``|>`` operator chains, from the
    SQL:2023 / GoogleSQL pipe-query proposal): the query is written as
    a linear dataflow — ``FROM t |> WHERE … |> EXTEND … |> AGGREGATE …
    GROUP BY … |> WHERE … |> SELECT`` — instead of the inside-out
    SELECT block.  Each ``|>`` stage consumes the previous stage's
    relation, so computed columns (``EXTEND``) are referencable by
    name in later stages without subquery nesting, and a post-
    aggregation ``WHERE`` is HAVING without the keyword.

    Catalyst parses pipes into the SAME logical plan as the nested
    form — the oracle is the equivalent un-piped query, and the hash
    match proves the chain is pure syntax (pushdown, partial
    aggregation, and codegen all unchanged).  This is the headline
    Spark 4 SQL surface: the flagship Q1-shape expressed as a
    pipeline."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "pipe_lineitem"
    )
    return spark.sql(
        """
        FROM pipe_lineitem
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> EXTEND l_extendedprice * (1 - l_discount) AS disc_price
        |> AGGREGATE COUNT(*) AS n,
                     SUM(CAST(FLOOR(disc_price * 100 + 0.5) AS BIGINT))
                         AS sum_disc_cents
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n > 0
        |> SELECT l_returnflag, l_linestatus, n, sum_disc_cents
        """
    )


@query(
    "fn_identifier_clause",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS sum_price_cents
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def fn_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``IDENTIFIER(:param)`` (Spark 4) — injection-safe DYNAMIC
    identifiers: table and column names arrive as bound parameters and
    are resolved as identifiers, not spliced as strings.  This is the
    templating surface for multi-tenant / per-dataset jobs ("same
    query, table chosen at runtime") that string concatenation gets
    wrong (quoting bugs, SQL injection) — the identifier is validated
    as a single name, so a malicious value cannot smuggle syntax.

    All three identifier positions are dynamic here: the table, the
    grouping column, and the measure column.  The oracle is the
    fully-inlined query; the hash match proves identifier binding is
    pure name resolution with zero semantic effect."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("ident_orders")
    return spark.sql(
        """
        SELECT IDENTIFIER(:grp),
               COUNT(*) AS n,
               SUM(CAST(FLOOR(IDENTIFIER(:measure) * 100 + 0.5)
                   AS BIGINT)) AS sum_price_cents
        FROM IDENTIFIER(:tbl)
        WHERE o_orderstatus = 'F'
        GROUP BY IDENTIFIER(:grp)
        """,
        args={
            "tbl": "ident_orders",
            "grp": "o_orderpriority",
            "measure": "o_totalprice",
        },
    )


@query(
    "fn_map_higher_order",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           CAST(FLOOR(l_quantity) AS INTEGER) * 2 AS doubled_qty,
           CAST(CAST(FLOOR(l_quantity) AS INTEGER) % 2 = 1 AS INTEGER)
             + CAST(l_linenumber % 2 = 1 AS INTEGER)        AS n_odd,
           CAST(CAST(FLOOR(l_quantity) AS INTEGER) + l_linenumber
                + CAST(FLOOR(l_discount * 100 + 0.5) AS INTEGER)
                + CAST(FLOOR(l_tax * 100 + 0.5) AS INTEGER)
                AS BIGINT)                                  AS zip_total,
           'LINE,QTY'                                       AS keys_upper
    FROM lineitem
    WHERE l_orderkey % 11 = 0
    """,
)
def fn_map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP higher-order functions — the one lambda family fn_array_
    higher_order doesn't touch: ``transform_values`` (rescale every
    entry), ``map_filter`` (keep entries by predicate), ``map_zip_with``
    (align two maps on keys and combine), ``transform_keys`` +
    ``map_keys`` (key-space rewrite).  Typed feature-bags stored as
    map<string,int> are the standard shape for sparse per-row metrics;
    these five are their entire algebra.

    The map columns stay INTERNAL (driver-safe scalar outputs only —
    no map in the declared schema): each HOF result collapses to a
    scalar via element_at / size / aggregate.  The oracle never builds
    a map at all — it recomputes the same scalars straight from the
    base columns, so the hash match proves the map algebra is
    semantically transparent.

    Scale design: pure narrow projection — no shuffle, no UDF; the
    lambdas are interpreted (not codegen'd) but run ~10 evals/row,
    far under the ~200/row Arrow-kernel threshold (CLAUDE.md).  The
    residue filter (l_orderkey % 11) bounds verified output at
    sf0.01 to ~5.5k rows and is pushed to the parquet scan."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 11 == 0)
    # FLOOR before the int cast: CAST(double AS INT) rounds in DuckDB but
    # truncates in ANSI Spark — identical today (quantities are integral)
    # but the corpus regenerates between rounds; floor is floor everywhere.
    qty = F.floor("l_quantity").cast("int")
    disc_i = pin_int(F.col("l_discount"), 100).cast("int")
    tax_i = pin_int(F.col("l_tax"), 100).cast("int")
    m1 = F.create_map(F.lit("qty"), qty, F.lit("line"), F.col("l_linenumber"))
    m2 = F.create_map(F.lit("qty"), disc_i, F.lit("line"), tax_i)
    doubled = F.element_at(
        F.transform_values(m1, lambda _k, v: v * 2), F.lit("qty")
    )
    n_odd = F.size(F.map_filter(m1, lambda _k, v: v % 2 == 1))
    zipped = F.map_zip_with(m1, m2, lambda _k, a, b: a + b)
    zip_total = F.aggregate(
        F.map_values(zipped), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    keys_upper = F.array_join(
        F.sort_array(F.map_keys(F.transform_keys(m1, lambda k, _v: F.upper(k)))),
        ",",
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        doubled.alias("doubled_qty"),
        n_odd.cast("int").alias("n_odd"),
        zip_total.alias("zip_total"),
        keys_upper.alias("keys_upper"),
    )


@query(
    "fn_xpath_extract",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority AS prio_x,
           o_orderkey      AS key_x,
           CAST(2 AS BIGINT) AS n_children
    FROM orders
    WHERE o_orderkey % 20 = 0
    """,
)
def fn_xpath_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XPATH scalar extraction (`xpath_string` / `xpath_long` /
    `xpath(...)` node-set counting) — Spark's built-in XML query
    family for the per-row XML payloads (legacy SOAP bodies, config
    blobs) that predate the full XML *source*
    (`source_xml_roundtrip`).  The document is synthesized row-side
    from base columns, round-tripped through the XPath engine, and the
    oracle simply restates the base columns — a hash-proof that
    extraction inverts construction exactly (same discipline as
    `fn_aes_roundtrip`).

    DuckDB has no XPath family at all (dialect gap, hence the
    identity-form oracle); `xpath()` itself returns array<string>, so
    the declared output carries its SIZE (driver-safe scalar), not the
    array.

    Scale: pure per-row JVM projection — codegen'd, no shuffle; the
    residue filter sits below the xpath calls and reaches the parquet
    scan (xpath cost is paid on 1/20th of rows)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)
    xml = F.concat(
        F.lit("<o><k>"),
        F.col("o_orderkey").cast("string"),
        F.lit("</k><p>"),
        F.col("o_orderpriority"),
        F.lit("</p></o>"),
    )
    return o.select(
        "o_orderkey",
        F.xpath_string(xml, F.lit("/o/p")).alias("prio_x"),
        F.xpath_long(xml, F.lit("/o/k")).alias("key_x"),
        F.size(F.xpath(xml, F.lit("/o/*"))).cast("long").alias("n_children"),
    )


@query(
    "fn_values_inline_join",
    oracle="""
    SELECT o.o_orderpriority,
           v.sla_days,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) * v.sla_days AS BIGINT) AS order_sla_days
    FROM orders o
    JOIN (VALUES ('1-URGENT', CAST(1 AS BIGINT)),
                 ('2-HIGH', CAST(3 AS BIGINT)),
                 ('3-MEDIUM', CAST(7 AS BIGINT)),
                 ('4-NOT SPECIFIED', CAST(14 AS BIGINT)),
                 ('5-LOW', CAST(30 AS BIGINT)))
         AS v(o_orderpriority, sla_days)
      USING (o_orderpriority)
    GROUP BY o.o_orderpriority, v.sla_days
    """,
)
def fn_values_inline_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INLINE `VALUES` TABLE join — the literal lookup table (SLA days
    per priority here) that analysts embed directly in SQL instead of
    staging a five-row dimension file; identical `VALUES … AS v(cols)`
    syntax on both engines.  The engine side goes through `spark.sql`
    deliberately: the VALUES clause is the surface under test.

    Plan note: a LocalRelation of literals is below every broadcast
    threshold, so the join plans as a BroadcastHashJoin with zero scan
    or shuffle for the lookup side — the degenerate-but-common case of
    the broadcast-dim rule, and the right shape at any corpus scale.

    Scale: the fact side aggregates map-side-combinably on the join
    key; the VALUES side is O(domain) driver literals — never make
    this pattern carry more than a few thousand rows (stage a real
    table instead)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o.o_orderpriority,
               v.sla_days,
               COUNT(*) AS n_orders,
               COUNT(*) * v.sla_days AS order_sla_days
        FROM orders o
        JOIN (VALUES ('1-URGENT', CAST(1 AS BIGINT)),
                     ('2-HIGH', CAST(3 AS BIGINT)),
                     ('3-MEDIUM', CAST(7 AS BIGINT)),
                     ('4-NOT SPECIFIED', CAST(14 AS BIGINT)),
                     ('5-LOW', CAST(30 AS BIGINT)))
             AS v(o_orderpriority, sla_days)
          USING (o_orderpriority)
        GROUP BY o.o_orderpriority, v.sla_days
        """
    )


@query(
    "fn_interval_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE)  AS due_3mo,
           CAST(o_orderdate + INTERVAL 45 DAY AS DATE)   AS due_45d,
           o_orderdate + INTERVAL 90 MINUTE              AS ts_90min,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
                          CAST(o_orderdate + INTERVAL 3 MONTH AS DATE))
                AS BIGINT) AS span_days
    FROM orders
    WHERE o_orderkey % 20 = 0
    """,
)
def fn_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL ARITHMETIC — both interval classes in one key:
    year-month (`+ INTERVAL 3 MONTH`, which must CLAMP to month ends:
    Jan 31 + 1 month = Feb 29/28, a calendar rule both engines share
    but naive day-math breaks) and day-time (`+ INTERVAL 45 DAY`,
    `+ INTERVAL 90 MINUTE` — fixed physical durations), plus the
    day-span measurement back between the shifted and base dates.

    Dialect notes: Spark needs the quoted-literal form
    (`INTERVAL '3' MONTH`) in SQL but the F.expr forms below; DuckDB
    takes bare `INTERVAL 3 MONTH`.  date_diff arg order is the r5 trap
    (DuckDB: (part, start, end)); timestamps stay TIMESTAMP on both
    sides, month-shift results are cast to DATE (the date_trunc
    return-type trap class).

    Scale: pure per-row codegen'd projection under a pushed residue
    filter — no shuffle."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL '3' MONTH"))
        .cast("date")
        .alias("due_3mo"),
        (F.col("o_orderdate") + F.expr("INTERVAL '45' DAY"))
        .cast("date")
        .alias("due_45d"),
        (F.col("o_orderdate") + F.expr("INTERVAL '90' MINUTE")).alias(
            "ts_90min"
        ),
        F.datediff(
            (F.col("o_orderdate") + F.expr("INTERVAL '3' MONTH")).cast("date"),
            F.col("o_orderdate").cast("date"),
        )
        .cast("long")
        .alias("span_days"),
    )


@query(
    "fn_convert_timezone_buckets",
    oracle="""
    WITH tzs AS (
        SELECT unnest(['America/New_York', 'Europe/Berlin', 'Asia/Tokyo'])
               AS tz
    ),
    loc AS (
        SELECT t.tz,
               timezone(t.tz, timezone('UTC', e.ts)) AS lts,
               e.ts
        FROM events e CROSS JOIN tzs t
    )
    SELECT tz,
           CAST(EXTRACT(hour FROM lts) AS BIGINT) AS local_hour,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN CAST(lts AS DATE) <> CAST(ts AS DATE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_day_shifted
    FROM loc
    GROUP BY tz, EXTRACT(hour FROM lts)
    """,
)
def fn_convert_timezone_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone-aware local-hour bucketing (`convert_timezone`) — the
    "what does traffic look like in the USER'S clock" rollup every
    global product runs: UTC instants re-expressed in three IANA zones,
    bucketed by local hour, with `n_day_shifted` counting events whose
    LOCAL calendar date differs from the UTC date (the off-by-one-day
    class of reporting bug this function family exists to prevent).

    Dialect trap (documented because the two APIs point OPPOSITE
    directions): Spark's `convert_timezone(src, dst, ts)` maps src→dst
    wall time, while DuckDB's `timezone(tz, ts)` is overloaded by
    argument type — naive TIMESTAMP is INTERPRETED in tz (local→
    instant), TIMESTAMPTZ is RENDERED in tz (instant→local) — so
    UTC→local must compose `timezone(tz, timezone('UTC', ts))`.  Both
    engines resolve zone rules from the same IANA database, which is
    what makes the hash comparable at all.

    Scale: the 3-zone explode is a width-3 fanout BEFORE a
    map-side-combinable count — 72 output cells regardless of input
    rows; no join, one exchange."""
    ev = load(spark, sf_dir, "events")
    fanned = ev.select(
        "ts",
        F.explode(
            F.array(
                F.lit("America/New_York"),
                F.lit("Europe/Berlin"),
                F.lit("Asia/Tokyo"),
            )
        ).alias("tz"),
    )
    lts = F.convert_timezone(F.lit("UTC"), F.col("tz"), F.col("ts"))
    return (
        fanned.select(
            "tz",
            F.hour(lts).cast("long").alias("local_hour"),
            (F.to_date(lts) != F.to_date("ts")).cast("long").alias("shifted"),
        )
        .groupBy("tz", "local_hour")
        .agg(
            F.count("*").alias("n"),
            F.sum("shifted").alias("n_day_shifted"),
        )
    )


@query(
    "fn_url_parse_components",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 0 THEN 'http' ELSE 'https' END AS proto,
           'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.'
               || CASE WHEN doc_id % 3 = 0 THEN 'com'
                       WHEN doc_id % 3 = 1 THEN 'org'
                       ELSE 'net' END AS host,
           'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.'
               || CASE WHEN doc_id % 3 = 0 THEN 'com'
                       WHEN doc_id % 3 = 1 THEN 'org'
                       ELSE 'net' END
               || CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END
               AS authority,
           '/p/' || CAST(doc_id AS VARCHAR)
               || CASE WHEN doc_id % 4 = 0 THEN '/a' ELSE '' END AS path,
           CASE WHEN doc_id % 2 = 0
                THEN 'q=' || CAST(doc_id % 7 AS VARCHAR) || '&lang=' || lang
                ELSE NULL END AS query,
           CASE WHEN doc_id % 2 = 0 THEN lang ELSE NULL END AS lang_param,
           CASE WHEN doc_id % 6 = 0 THEN 'sec' || CAST(doc_id % 3 AS VARCHAR)
                ELSE NULL END AS fragment
    FROM documents
    """,
)
def fn_url_parse_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`parse_url` component extraction (PROTOCOL / HOST / AUTHORITY /
    PATH / QUERY / per-key QUERY / REF) over URLs synthesized
    deterministically from doc_id — extraction must INVERT the
    construction, the identity-form oracle precedented by
    fn_xpath_extract (DuckDB has no URL parser; a regexp twin would
    test the regexp, not the contract).  The synthesis deliberately
    covers the branchy cases: ports (AUTHORITY ⊃ HOST), absent query
    strings and fragments (parse_url → NULL, not ''), and per-key
    query lookup (`parse_url(url, 'QUERY', 'lang')`).

    Scale: pure projection — JVM-side, no shuffle, no UDF; the
    entire key is one whole-stage-codegen map over the scan."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    url = F.concat(
        F.when(F.col("doc_id") % 4 == 0, F.lit("http")).otherwise(
            F.lit("https")
        ),
        F.lit("://site"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".example."),
        F.when(F.col("doc_id") % 3 == 0, F.lit("com"))
        .when(F.col("doc_id") % 3 == 1, F.lit("org"))
        .otherwise(F.lit("net")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("/a")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("?q="),
                (F.col("doc_id") % 7).cast("string"),
                F.lit("&lang="),
                F.col("lang"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(F.lit("#sec"), (F.col("doc_id") % 3).cast("string")),
        ).otherwise(F.lit("")),
    )
    with_url = d.select("doc_id", url.alias("url"))
    return with_url.select(
        "doc_id",
        F.parse_url("url", F.lit("PROTOCOL")).alias("proto"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("AUTHORITY")).alias("authority"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.parse_url("url", F.lit("REF")).alias("fragment"),
    )
