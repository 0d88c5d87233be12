"""Local twin of the driver's correctness harness (SURVEY.md §5 item 2).

For every registered key: run the Spark DataFrame at sf0.01 AND the DuckDB
oracle SQL over the same parquet, compare row count + column-name set +
order-insensitive canonicalized values.  Rows-only keys just execute.

Never declare a key (engine.core.query) that fails here.
"""

from __future__ import annotations

import datetime
import math

import pytest

import engine
from engine.core import configure
from tests.conftest import SF_DIR

KEYS = sorted(engine.QUERIES)


def _canon(v):
    """Canonicalize a cell for order-insensitive comparison."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        # EXACT comparison (repr = shortest round-trip form): the driver
        # hashes exact values, so the local twin must be at least as
        # strict — round-1's round(v, 6) here absorbed drift the driver
        # then punished (VERDICT r1 "What's wrong" #3).
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def _sortkey(row):
    return tuple(
        (x is None, str(type(x).__name__), str(x)) for x in row
    )


def _normalize(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort(key=_sortkey)
    return cols, out


ORACLE_KEYS = sorted(engine.ORACLES)

# DuckDB output types whose pandas/arrow conversion is lossless and
# matches Spark's: anything else (HUGEINT from bare SUM(int), DECIMAL,
# BOOLEAN) degrades to float/object in the driver's canonicalizer and
# hash-mismatches even when values are equal (r3: evt_ab_lift — the
# only non-green key of the round — had uncast SUM(CASE...) counts).
_DUCK_SAFE = {
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT",
    "VARCHAR", "DATE", "TIMESTAMP", "TIMESTAMP_NS",
}


@pytest.mark.parametrize("key", ORACLE_KEYS)
def test_oracle_output_types(key, duck):
    desc = duck.execute(f"DESCRIBE ({engine.ORACLES[key]})").fetchall()
    bad = [(n, t) for n, t, *_ in desc if t not in _DUCK_SAFE]
    assert not bad, (
        f"{key}: oracle output columns {bad} are outside the DuckDB-safe "
        f"type set — CAST(... AS BIGINT/DOUBLE/VARCHAR) in the oracle SQL"
    )


def _session_state(spark):
    """The SQL conf map and the ids of the active streams."""
    return spark.conf.getAll, sorted(str(q.id) for q in spark.streams.active)


@pytest.mark.parametrize("key", KEYS)
def test_parity(key, spark, duck):
    # A key leaves the session as it found it: no conf set or unset, no
    # stream left running.  The session is configured first (the
    # registry does so before every key), so configure's own keys need
    # no exemption and no key gets an allow-list.
    configure(spark)
    before = _session_state(spark)
    df = engine.QUERIES[key](spark, SF_DIR)

    if key not in engine.ROWS_ONLY:
        # The driver's canonicalizer cannot hash array/map cells (round-1
        # agg_collect_* crash) and its r2 run died at the first key with
        # BOOLEAN output — allow ONLY the proven-safe scalar set in
        # declared keys (VERDICT r2 next step #8).
        from pyspark.sql import types as T

        SAFE = (
            T.StringType, T.IntegerType, T.LongType, T.ShortType,
            T.ByteType, T.DoubleType, T.FloatType, T.DateType,
            T.TimestampType, T.TimestampNTZType,  # NTZ: driver-green in r2
        )
        bad = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if not isinstance(f.dataType, SAFE)
        ]
        assert not bad, (
            f"{key}: output columns {bad} are outside the driver-safe "
            f"scalar set (string/int/double/date/timestamp) — cast or "
            f"serialize them (array_join / to_json / cast-to-int)"
        )

    # Collect THROUGH a sorted-column projection — the driver does, and
    # the projection changes the optimized plan (r10: column pruning
    # through a self-cogroup dropped the right side's ts and the
    # Python kernel KeyError'd only under the driver's shape; a bare
    # collect masked it).  Local green ⇔ driver green requires the
    # same plan.
    proj = df.select(*sorted(df.columns))
    spark_rows = [tuple(r) for r in proj.collect()]
    spark_cols = proj.columns
    assert _session_state(spark) == before, f"{key}: session state changed"

    if key in engine.ROWS_ONLY:
        assert len(spark_rows) >= 0  # rows-only: executes without error
        return

    cur = duck.execute(engine.ORACLES[key])
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{key}: column mismatch spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{key}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )

    _, s_norm = _normalize(spark_cols, spark_rows)
    _, d_norm = _normalize(duck_cols, duck_rows)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_norm, d_norm)) if a != b
    ]
    assert not mismatches, (
        f"{key}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
    )
