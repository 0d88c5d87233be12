"""The floor-pin discipline (CLAUDE.md 'Design rules') is load-bearing
for every hash-compared float: floor(x*scale + 0.5)/scale must be
BIT-IDENTICAL between Spark and DuckDB, including at half-way ties and
one-ulp neighbors — exactly where ROUND() diverged in round 1.

These tests feed both engines an adversarial grid of boundary doubles
(exact .xx5 ties, their one-ulp neighbors, negatives, large magnitudes)
and assert cell equality of the pinned outputs of the engine's one
pinning helper, engine.core.pin / pin_int, against the SQL form.
"""

from __future__ import annotations

import math
import struct

import duckdb
import pytest


def _ulp_neighbors(x: float) -> list[float]:
    return [math.nextafter(x, -math.inf), x, math.nextafter(x, math.inf)]


def _grid() -> list[float]:
    vals: list[float] = []
    # half-cent ties around integers and typical money magnitudes
    for base in (0.0, 1.0, 2.0, 9.0, 99.0, 12345.0, 9876543.0):
        for frac in (0.005, 0.015, 0.125, 0.495, 0.505, 0.995):
            for sign in (1.0, -1.0):
                vals.extend(_ulp_neighbors(sign * (base + frac)))
    # 4-decimal pin boundaries (scale 10000)
    for base in (0.0, 0.5, 3.0):
        for frac in (0.00005, 0.12345, 0.99995):
            vals.extend(_ulp_neighbors(base + frac))
    # magnitudes where x*10000 approaches 2^53 spacing
    vals.extend([1e9 + 0.005, 123456789.0005, 1e12 + 0.5])
    return vals


@pytest.mark.parametrize("scale", [100, 10000, 1_000_000])
def test_floor_pin_bit_identical_spark_vs_duckdb(spark, scale):
    # core.pin on the Spark side against its SQL twin core.pin_sql.
    from pyspark.sql import functions as F

    from engine.core import pin, pin_sql

    vals = _grid()
    sdf = spark.createDataFrame([(v,) for v in vals], "x double")
    spark_out = [
        r.p for r in sdf.select(pin(F.col("x"), scale).alias("p")).collect()
    ]
    con = duckdb.connect()
    duck_out = [
        con.execute(f"SELECT {pin_sql('?', scale)}", [v]).fetchone()[0]
        for v in vals
    ]
    for v, s, d in zip(vals, spark_out, duck_out):
        assert struct.pack("d", s) == struct.pack("d", d), (
            f"floor-pin diverged at x={v!r} scale={scale}: spark={s!r} duck={d!r}"
        )


def test_cents_long_identical_spark_vs_duckdb(spark):
    # core.pin_int against CAST(FLOOR(x*S + 0.5) AS BIGINT): exact cents
    # and the e6 keys.
    from pyspark.sql import functions as F

    from engine.core import pin_int

    con = duckdb.connect()
    for scale in (100, 1_000_000):
        vals = [v for v in _grid() if abs(v) * scale < 9e15]  # within long
        sdf = spark.createDataFrame([(v,) for v in vals], "x double")
        spark_out = [
            r.c for r in sdf.select(pin_int(F.col("x"), scale).alias("c")).collect()
        ]
        duck_out = [
            con.execute(
                f"SELECT CAST(FLOOR(? * {scale} + 0.5) AS BIGINT)", [v]
            ).fetchone()[0]
            for v in vals
        ]
        assert spark_out == duck_out, f"scale={scale}"
