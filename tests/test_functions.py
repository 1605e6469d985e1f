"""Scalar-function layer tests (SURVEY §2.7): the C4 sine workload
generator and coercion helpers, plus text tokenization edge cases."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from phoebe_spark.functions import (
    log_clamp,
    nan_to_null,
    relative_error,
    sine_workload,
    to_epoch_seconds,
)
from phoebe_spark.operators.text import token_stats


def test_sine_workload_shape_and_determinism(spark):
    df = sine_workload(spark, n=1000, amplitude=100.0, vertical_phase=100.0, period=100)
    rows = df.collect()
    assert len(rows) == 1000
    vals = [r["value"] for r in rows]
    assert all(v >= 0 for v in vals)  # abs clamp
    assert max(vals) <= 220  # amplitude + phase + noise headroom
    # seeded: two builds produce identical values
    again = [r["value"] for r in sine_workload(spark, n=1000, amplitude=100.0, vertical_phase=100.0, period=100).collect()]
    assert vals == again


def test_scalar_coercions(spark):
    df = spark.createDataFrame(
        [(1_700_000_000, 1.0), (1_700_000_000_123, float("nan"))], "ts LONG, v DOUBLE"
    )
    out = df.select(
        to_epoch_seconds(F.col("ts")).alias("sec"),
        nan_to_null(F.col("v")).alias("v"),
        log_clamp(F.col("v")).alias("lc"),
    ).collect()
    assert out[0]["sec"] == 1_700_000_000
    assert out[1]["sec"] == 1_700_000_001  # ceil of ms -> s
    assert out[1]["v"] is None
    assert out[0]["lc"] == 0.0  # log(max(1, 1.0))


def test_relative_error(spark):
    df = spark.createDataFrame([(105.0, 100.0)], "a DOUBLE, b DOUBLE")
    r = df.select(relative_error(F.col("a"), F.col("b")).alias("e")).collect()[0]["e"]
    assert r == pytest.approx(0.05)


def test_token_stats_edge_cases(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one"), (4, "  two   words  "), (5, "a,b c!")],
        "doc_id LONG, text STRING",
    )
    out = {r["doc_id"]: r for r in token_stats(df).collect()}
    assert out[1]["token_count"] == 0 and out[1]["avg_token_len"] == 0.0
    assert out[2]["token_count"] == 0  # whitespace-only -> no tokens
    assert out[3]["token_count"] == 1
    assert out[4]["token_count"] == 2  # leading/trailing/multi-space handled
    assert out[5]["token_count"] == 2
    assert out[5]["punct_ratio"] > 0


def test_lit_array_helpers_bit_identical(spark):
    """One-parse literal arrays (round-11 optimization) must be
    BIT-identical to the per-element F.lit form for every value class
    that appears in kernels: negative zero, denormals, huge/tiny
    exponents, integral doubles. Also covers the non-finite fallback
    and long arrays/matrices."""
    import struct

    from pyspark.sql import functions as F

    from phoebe_spark.functions.numeric import (
        lit_double_array,
        lit_double_matrix,
        lit_long_array,
        lit_long_matrix,
    )

    vals = [0.0, -0.0, 1.0, -1.5, 5e-324, 1.7976931348623157e308,
            2.2250738585072014e-308, 0.1, 1/3, -2/3, 1234567890.123456789]
    row = spark.range(1).select(
        lit_double_array(vals).alias("a"),
        F.array(*[F.lit(v) for v in vals]).alias("b"),
        lit_double_matrix([vals, vals[::-1]]).alias("ma"),
        F.array(F.array(*[F.lit(v) for v in vals]),
                F.array(*[F.lit(v) for v in vals[::-1]])).alias("mb"),
        lit_long_array([0, -1, 2**62, -(2**62)]).alias("la"),
        lit_long_matrix([[1, 2], [3, 4]]).alias("lma"),
        lit_double_array([float("nan"), float("inf"), 1.0]).alias("nf"),
    ).collect()[0]
    bits = lambda x: struct.pack("<d", x)
    assert [bits(x) for x in row["a"]] == [bits(x) for x in row["b"]]
    assert [[bits(x) for x in r] for r in row["ma"]] == [
        [bits(x) for x in r] for r in row["mb"]]
    assert row["la"] == [0, -1, 2**62, -(2**62)]
    assert row["lma"] == [[1, 2], [3, 4]]
    import math
    assert math.isnan(row["nf"][0]) and math.isinf(row["nf"][1])
    # types preserved (bigint, not int — F.lit(python int) is LongType)
    df = spark.range(1).select(lit_long_array([1]).alias("x"),
                               lit_double_array([1.0]).alias("y"))
    assert dict(df.dtypes) == {"x": "array<bigint>", "y": "array<double>"}
    # int64 overflow is rejected at construction, not at analysis time
    with pytest.raises(ValueError, match="int64"):
        lit_long_array([2**63])
    with pytest.raises(ValueError, match="int64"):
        lit_long_matrix([[0], [-(2**63) - 1]])
