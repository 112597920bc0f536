"""functions.fastsum: long-buffer sums must be bit-identical to the
decimal-buffer convention they replace (r13 optimization round)."""

import math

import pytest
from pyspark.sql import functions as F

from riot_graphs_spark.functions import fastsum as fs


def _both(spark, vals, scale):
    """(fast, slow) sums of a value list at the given quantization scale."""
    df = spark.createDataFrame(
        [(v,) for v in vals], "x double"
    )
    fast = (
        df.agg(*fs.parts(F.col("x"), "s", scale=scale))
        .select(fs.value("s", scale=scale).alias("v"))
        .collect()[0]["v"]
    )
    slow = (
        df.agg(
            F.sum(
                F.round("x", scale).cast(f"decimal(28,{scale})")
            )
            .cast("double")
            .alias("v")
        )
        .collect()[0]["v"]
    )
    return fast, slow


def test_matches_decimal_sum_on_adversarial_values(spark):
    # half-up tie candidates, negatives, magnitude spread, exact 9dp values
    vals = [
        0.0000000005,
        -0.0000000005,
        1.0000000015,
        -2.9999999995,
        123456.123456789,
        -999999.999999999,
        1e-9,
        -1e-9,
        0.1 + 0.2,  # classic non-representable
        math.pi,
        -math.e * 1000,
        7.5e5,  # near the scale-9 magnitude bound
    ]
    fast, slow = _both(spark, vals, 9)
    assert fast == slow


def test_matches_decimal_sum_scale6(spark):
    vals = [1234567.654321, -7654321.000001, 0.0000005, -0.0000005, 1e8 / 3]
    fast, slow = _both(spark, vals, 6)
    assert fast == slow


def test_null_handling_matches_sum(spark):
    df = spark.createDataFrame(
        [(1.25,), (None,), (-3.5,)], "x double"
    )
    fast = (
        df.agg(*fs.parts(F.col("x"), "s"))
        .select(fs.value("s").alias("v"))
        .collect()[0]["v"]
    )
    assert fast == -2.25
    all_null = spark.createDataFrame([(None,), (None,)], "x double")
    v = (
        all_null.agg(*fs.parts(F.col("x"), "s"))
        .select(fs.value("s").alias("v"))
        .collect()[0]["v"]
    )
    assert v is None


def test_parts_int_matches_decimal38_sum(spark):
    # scaled-integer moments incl. negative products and the 10^12-ish bound
    vals = [(393816, -401233), (-7, 999999), (123456, 123456), (0, -1)]
    df = spark.createDataFrame(vals, "a long, b long")
    prod = F.col("a") * F.col("b")
    fast = (
        df.agg(*fs.parts_int(prod, "p"))
        .select(fs.value_int("p").alias("v"))
        .collect()[0]["v"]
    )
    slow = (
        df.agg(F.sum(prod.cast("decimal(38,0)")).alias("v"))
        .collect()[0]["v"]
    )
    assert fast == slow
    # type parity: downstream decimal arithmetic must see the same type
    t_fast = (
        df.agg(*fs.parts_int(prod, "p"))
        .select(fs.value_int("p").alias("v"))
        .schema["v"]
        .dataType.simpleString()
    )
    assert t_fast == "decimal(38,0)"


def test_parts3_int_exact_at_int64_boundary(spark):
    # r14 (VERDICT item 6): the old double-division hi-extraction could be
    # off by one past 2^53; parts3_int must be exact over its full
    # advertised ~9·10^18 per-term range, including Long.MAX/MIN edges and
    # odd values straddling the 2^53 representability cliff.
    lmax = 9223372036854775807
    vals = [
        lmax,
        lmax - 1,
        -lmax,
        -(lmax - 1),
        (1 << 53) + 1,
        (1 << 53) - 1,
        -((1 << 53) + 1),
        10**18 + 1,
        -(10**18 + 7),
        9007199254742993,  # 2^53 + 2001: odd, above the cliff
        123456789012345678,
        -1,
        0,
        999999,
        -1000001,
    ]
    for v in vals:
        df = spark.createDataFrame([(v,)], "x long")
        got = (
            df.agg(*fs.parts3_int(F.col("x"), "t"))
            .select(fs.value3_int("t").alias("v"))
            .collect()[0]["v"]
        )
        assert int(got) == v, f"parts3_int broke at {v}: got {got}"
    # multi-row: exact total vs Python bignum sum (fits decimal(38,0))
    multi = [lmax, lmax - 1, -(1 << 53) - 1, 10**18 + 1, -3]
    df = spark.createDataFrame([(v,) for v in multi], "x long")
    got = (
        df.agg(*fs.parts3_int(F.col("x"), "t"))
        .select(fs.value3_int("t").alias("v"))
        .collect()[0]["v"]
    )
    assert int(got) == sum(multi)


def test_value_keeps_full_scale(spark):
    # the (38,0)×(9,9) → (38,6) allowPrecisionLoss trap: a value needing
    # all 9 output decimals must survive the reconstruction exactly
    df = spark.createDataFrame([(0.123456789,)], "x double")
    v = (
        df.agg(*fs.parts(F.col("x"), "s"))
        .select(fs.value("s").alias("v"))
        .collect()[0]["v"]
    )
    assert v == 0.123456789
