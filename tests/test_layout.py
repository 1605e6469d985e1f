"""Z-order layout expressions: the Morton interleave against a pure-Python
reference, and the quantization's range and monotonicity. q132 checks the
locality profile built from them against its oracle."""

from __future__ import annotations

from phoebe_spark.operators.layout import morton_expr, quantize_expr


def _morton_py(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_morton_expr_matches_reference(spark):
    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.selectExpr("x", "y", f"{morton_expr('x', 'y', 4, 'div')} AS z").collect()
    }
    for x, y in rows:
        assert got[(x, y)] == _morton_py(x, y, 4), (x, y)


def test_quantize_expr_range_and_monotone(spark):
    df = spark.range(1, 1001).selectExpr(
        "id", f"{quantize_expr('id', '1', '1000', 256, 'div')} AS q"
    )
    rows = sorted((r["id"], r["q"]) for r in df.collect())
    qs = [q for _, q in rows]
    assert min(qs) == 0 and max(qs) == 255
    assert all(a <= b for a, b in zip(qs, qs[1:]))  # monotone in the input
