from __future__ import annotations

from extractors_metadata_spark.operators.terrain import slope_aspect


def _rows(df):
    return {
        (r["x"], r["y"]): (r["gx"], r["gy"], r["slope2"], r["octant"])
        for r in df.collect()
    }


def _horn_reference(cells: dict[tuple[int, int], int], n: int):
    """Gather-form Horn gradient over the zero-filled grid, support =
    cells with at least one occupied 8-neighbor (the scatter support)."""
    support = set()
    for (x, y) in cells:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if dx == 0 and dy == 0:
                    continue
                ox, oy = (x - dx) % n, y - dy
                if 0 <= oy < n:
                    support.add((ox, oy))
    out = {}
    for (x, y) in support:
        c = lambda dx, dy: cells.get(((x + dx) % n, y + dy), 0)
        gx = (c(1, -1) + 2 * c(1, 0) + c(1, 1)) - (
            c(-1, -1) + 2 * c(-1, 0) + c(-1, 1)
        )
        gy = (c(-1, 1) + 2 * c(0, 1) + c(1, 1)) - (
            c(-1, -1) + 2 * c(0, -1) + c(1, -1)
        )
        out[(x, y)] = (gx, gy)
    return out


def _octant_ref(gx: int, gy: int) -> int:
    if gx == 0 and gy == 0:
        return -1
    a, b = abs(gx), abs(gy)
    s2 = (a + b) * (a + b)
    if s2 < 2 * a * a:
        return 0 if gx > 0 else 4
    if s2 < 2 * b * b:
        return 2 if gy > 0 else 6
    if gx > 0 and gy > 0:
        return 1
    if gx < 0 and gy > 0:
        return 3
    if gx < 0 and gy < 0:
        return 5
    return 7


def _run(spark, cells: dict[tuple[int, int], int], z: int):
    df = spark.createDataFrame(
        [(x, y, c) for (x, y), c in cells.items()], "x long, y long, cnt long"
    )
    return _rows(slope_aspect(df, z=z))


def test_matches_gather_reference(spark):
    cells = {
        (10, 10): 5,
        (11, 10): 3,
        (10, 11): 7,
        (12, 12): 1,
        (9, 9): 2,
        (0, 5): 4,  # x-wrap neighborhood
        (15, 0): 6,  # pole edge clamp (z=4 -> n=16)
    }
    n = 16
    got = _run(spark, cells, z=4)
    ref = _horn_reference(cells, n)
    assert set(got) == set(ref)
    for k, (gx, gy) in ref.items():
        ggx, ggy, slope2, octant = got[k]
        assert (ggx, ggy) == (gx, gy), k
        assert slope2 == gx * gx + gy * gy
        assert octant == _octant_ref(gx, gy)


def test_isolated_tile_ring_support(spark):
    # one occupied tile in the interior: exactly its 8 ring cells get rows
    # (the cell itself has an all-zero ring -> Horn gradient identically 0
    # and it is omitted from the scatter support)
    got = _run(spark, {(8, 8): 10}, z=4)
    assert set(got) == {
        (8 + dx, 8 + dy)
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if not (dx == dy == 0)
    }
    # symmetry: the four cardinal neighbors see pure cardinal gradients
    assert got[(7, 8)][:2] == (20, 0)  # cell to the left: gradient +x
    assert got[(9, 8)][:2] == (-20, 0)
    assert got[(8, 7)][:2] == (0, 20)
    assert got[(8, 9)][:2] == (0, -20)
    assert got[(7, 8)][3] == 0 and got[(9, 8)][3] == 4
    assert got[(8, 7)][3] == 2 and got[(8, 9)][3] == 6
    # diagonal neighbors: exact diagonal gradients -> diagonal octants
    assert got[(7, 7)][:2] == (10, 10) and got[(7, 7)][3] == 1
    assert got[(9, 9)][:2] == (-10, -10) and got[(9, 9)][3] == 5


def test_octant_sector_boundaries(spark):
    # 22.5-degree sectors: tan(22.5) = sqrt(2)-1 ~ 0.4142; ratios below it
    # are cardinal, above it diagonal, decided by (a+b)^2 vs 2a^2 in ints
    assert _octant_ref(1000, 414) == 0  # 414/1000 < sqrt(2)-1 -> east
    assert _octant_ref(1000, 415) == 1  # 415/1000 > sqrt(2)-1 -> NE diag
    assert _octant_ref(-414, 1000) == 2  # steep -> +y cardinal
    assert _octant_ref(-415, 1000) == 3
    # engine column agrees with the reference on a sweep of hand gradients
    pairs = [
        (g, d)
        for g in (0, 1, -1, 2, -3, 414, 415, -414, -415, 1000, -1000)
        for d in (0, 1, -1, 414, 415, 1000, -1000)
    ]
    df = spark.createDataFrame(
        [(i, gx, gy) for i, (gx, gy) in enumerate(pairs)],
        "i long, gx long, gy long",
    )
    from extractors_metadata_spark.operators.terrain import _octant
    from pyspark.sql import functions as F

    got = {
        r["i"]: r["o"]
        for r in df.select("i", _octant(F.col("gx"), F.col("gy")).alias("o")).collect()
    }
    for i, (gx, gy) in enumerate(pairs):
        assert got[i] == _octant_ref(gx, gy), (gx, gy)


def test_x_wraps_antimeridian(spark):
    # occupied tile at x=0: its left-ring rows land at x = n-1
    got = _run(spark, {(0, 8): 4}, z=4)
    assert (15, 8) in got and got[(15, 8)][:2] == (8, 0)
    assert (1, 8) in got and got[(1, 8)][:2] == (-8, 0)


def test_partitioning_invariance(spark):
    cells = {(x, y): (x * 7 + y * 13) % 11 + 1 for x in range(20, 40) for y in range(20, 30)}
    df = spark.createDataFrame(
        [(x, y, c) for (x, y), c in cells.items()], "x long, y long, cnt long"
    )
    a = _rows(slope_aspect(df.coalesce(1), z=8))
    b = _rows(slope_aspect(df.repartition(16), z=8))
    assert a == b
