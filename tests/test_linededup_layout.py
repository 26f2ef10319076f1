"""The Z-order key (functions/zcurve.py)."""

from __future__ import annotations


def _ref_spread(v: int) -> int:
    out = 0
    for k in range(32):
        out |= ((v >> k) & 1) << (2 * k)
    return out


def test_z_value_matches_bit_reference(spark):
    from pyspark.sql import functions as F

    from extractors_metadata_spark.functions.zcurve import z_value

    vals = [(0, 0), (1, 0), (0, 1), (3, 5), (4095, 4095), (1 << 20, 1)]
    df = spark.createDataFrame(vals, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", z_value(F.col("x"), F.col("y")).alias("z")).collect()
    }
    for x, y in vals:
        assert got[(x, y)] == _ref_spread(x) | (_ref_spread(y) << 1), (x, y)
